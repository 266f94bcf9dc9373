package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.geo.Albers

/** Deterministic synthesis of the reference's AIS `segments` table
  * (/root/reference/sql_to_line.py:183-201) from the driver `events` table,
  * per FIXTURES.md §3. The identical arithmetic is emitted as a DuckDB CTE
  * ([[sqlWith]]) so reference-fidelity queries hash-match by construction.
  *
  * Parity rules (Spark ⇔ DuckDB 1.0):
  *  - integer-only `%`; fractional parts via `x - floor(x)` (both engines:
  *    int remainder keeps dividend sign; double ops are IEEE-identical);
  *  - `floor(double)` → BIGINT in Spark, DOUBLE in DuckDB → both sides cast
  *    through BIGINT before `% 600`;
  *  - rows with `event_id % 5 = 0` are "already processed": `geom` (struct,
  *    SRID 3005), `lenm`, `sogkt` populated via the same closed forms the
  *    pipeline uses, so recompute is idempotent (sql_to_line.py:41 contract).
  */
object Segments {

  /** geom struct fields, SURVEY §1.3. */
  val GeomFields: Seq[String] = Seq("sx", "sy", "ex", "ey", "srid")

  // ---- shared scalar formulas (Spark side) --------------------------------

  def startLon(userId: Column): Column = lit(-134.0) + (userId % 90) * lit(0.2)
  def startLat(eventId: Column): Column = lit(48.5) + (eventId % 100) * lit(0.1)
  def endLon(userId: Column, value: Column): Column =
    startLon(userId) + (value - floor(value)) * lit(0.05)
  def endLat(eventId: Column, value: Column): Column =
    startLat(eventId) + (value * lit(7) - floor(value * lit(7))) * lit(0.05)

  /** Euclidean length of the projected 2-point line, meters (EPSG:3005 is
    * metric — reference README.md:11; ST_Length analog, sql_to_line.py:219).
    */
  def lengthM(se: Column, sn: Column, ee: Column, en: Column): Column =
    sqrt((ee - se) * (ee - se) + (en - sn) * (en - sn))

  /** m/s → knots; constant exactly as the reference (sql_to_line.py:223).
    * NULL where `duration = 0`, as DuckDB's `x / 0` is in the oracle CTE.
    */
  val KnotsPerMps = 1.94384
  def sogKt(lenm: Column, duration: Column): Column =
    try_divide(lenm, duration) * lit(KnotsPerMps)

  /** Columns appended by [[withProjected]]. */
  val ProjectedCols: Seq[String] = Seq("se", "sn", "ee", "en", "len")

  /** `df` plus the EPSG:3005 endpoints `se, sn, ee, en` of its
    * (startlon, startlat) → (endlon, endlat) line in one `select`, then
    * their planar length `len` in a second; NULL on rows where `only` does
    * not hold, which skip the projection (the math functions do not
    * evaluate a NULL argument). Callers build `geom`/`lenm`/`sogkt` from
    * these columns and drop [[ProjectedCols]].
    *
    * Two named stages instead of one inlined formula per use: each endpoint
    * is a non-cheap expression referenced several times above, so
    * Catalyst's CollapseProject keeps the boundary, and every stage becomes
    * its own small consume method in the generated code. Inlined at every
    * use, the merged frame's loop is one 47 KB method — over HotSpot's
    * 8000-byte `HugeMethodLimit`, so the JIT never compiles it
    * (PlanShapeSpec guards the limit).
    */
  def withProjected(df: DataFrame, only: Column = lit(true)): DataFrame = {
    def lonLat(c: String): Column = when(only, col(c))
    val (se, sn) = Albers.eastNorth(lonLat("startlon"), lonLat("startlat"))
    val (ee, en) = Albers.eastNorth(lonLat("endlon"), lonLat("endlat"))
    df.select(col("*"), se.as("se"), sn.as("sn"), ee.as("ee"), en.as("en"))
      .withColumn("len", lengthM(col("se"), col("sn"), col("ee"), col("en")))
  }

  /** The SRID-3005 `geom` struct of SURVEY §1.3 from [[withProjected]]'s columns. */
  def projectedGeom: Column =
    struct(col("se").as("sx"), col("sn").as("sy"), col("ee").as("ex"),
      col("en").as("ey"), lit(3005).as("srid"))

  /** Full segments view: 18 columns of SURVEY §1.2 with `geom` as the §1.3
    * struct. Narrow map over `events` — no shuffle; Catalyst prunes unused
    * event columns down to the parquet scan.
    */
  def df(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(Tables.events(spark, sfDir))

  /** Same synthesis over an arbitrary events frame (scale probes, tests). */
  def fromEvents(ev: DataFrame): DataFrame = {
    val base = ev.select(
      col("event_id").as("segmentid"),
      col("user_id").as("uid"),
      (lit(316000000L) + col("user_id")).cast("int").as("mmsi"),
      col("ts").as("starttime"),
      (floor(col("value")) % 600).cast("int").as("duration"),
      startLat(col("event_id")).as("startlat"),
      startLon(col("user_id")).as("startlon"),
      endLat(col("event_id"), col("value")).as("endlat"),
      endLon(col("user_id"), col("value")).as("endlon"),
      (col("event_type") === "purchase").as("isclassa"),
      (col("user_id") % 30).cast("smallint").as("classais"),
      (col("user_id") % 8).cast("smallint").as("classgen"),
      substring(col("event_type"), 1, 20).as("name"),
      (col("event_id") % 2 === 0).as("isunique"),
      col("ts").as("lastchange"))
    // geometry only on "already processed" rows; `len` is NULL elsewhere
    val processed = col("segmentid") % 5 === 0
    withProjected(base, processed)
      .select(base.columns.map(col).toSeq ++ Seq(
        when(processed, projectedGeom).as("geom"),
        col("len").as("lenm"),
        sogKt(col("len"), col("duration")).as("sogkt")): _*)
  }

  // ---- identical arithmetic as a DuckDB CTE -------------------------------

  private val sLon = "(-134.0 + (user_id % 90) * 0.2)"
  private val sLat = "(48.5 + (event_id % 100) * 0.1)"
  private val eLon = s"($sLon + (value - floor(value)) * 0.05)"
  private val eLat = s"($sLat + (value * 7 - floor(value * 7)) * 0.05)"

  private def lenSql(se: String, sn: String, ee: String, en: String): String =
    s"sqrt((($ee - $se) * ($ee - $se)) + (($en - $sn) * ($en - $sn)))"

  /** `WITH segments AS (...)` prefix for every oracle query that reads the
    * synthesized table. Mirrors [[df]] expression-for-expression.
    */
  val sqlWith: String = {
    val (se, sn) = Albers.eastNorthSql("startlon", "startlat")
    val (ee, en) = Albers.eastNorthSql("endlon", "endlat")
    val len      = lenSql(se, sn, ee, en)
    s"""WITH seg_base AS (
       |  SELECT
       |    event_id AS segmentid,
       |    user_id AS uid,
       |    CAST(316000000 + user_id AS INTEGER) AS mmsi,
       |    ts AS starttime,
       |    CAST(CAST(floor(value) AS BIGINT) % 600 AS INTEGER) AS duration,
       |    $sLat AS startlat,
       |    $sLon AS startlon,
       |    $eLat AS endlat,
       |    $eLon AS endlon,
       |    (event_type = 'purchase') AS isclassa,
       |    CAST(user_id % 30 AS SMALLINT) AS classais,
       |    CAST(user_id % 8 AS SMALLINT) AS classgen,
       |    substr(event_type, 1, 20) AS name,
       |    (event_id % 2 = 0) AS isunique,
       |    ts AS lastchange,
       |    (event_id % 5 = 0) AS processed
       |  FROM events
       |), segments AS (
       |  SELECT seg_base.*,
       |    CASE WHEN processed THEN $se END AS geom_sx,
       |    CASE WHEN processed THEN $sn END AS geom_sy,
       |    CASE WHEN processed THEN $ee END AS geom_ex,
       |    CASE WHEN processed THEN $en END AS geom_ey,
       |    CASE WHEN processed THEN 3005 END AS geom_srid,
       |    CASE WHEN processed THEN $len END AS lenm,
       |    CASE WHEN processed THEN (($len / duration) * ${KnotsPerMps}) END AS sogkt
       |  FROM seg_base
       |)""".stripMargin
  }

  /** Prefix `body` with the segments CTE → a complete oracle statement. */
  def oracle(body: String): String = s"$sqlWith\n$body"
}
