package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.geo.Albers

/** The reference pipeline (SpacecraftSI/posting-lines), re-expressed
  * Spark-first. v1 semantics are authoritative (SURVEY §2.1): delete
  * `duration = 0` rows (sql_to_line.py:144-149) BEFORE geometry; a row is
  * pending iff `geom IS NULL` (:41); make-line 4326 (:211) → transform 3005
  * (:215) → length (:219) → sogkt (:223) → merge back on segmentid
  * (:230-234).
  *
  * Scale notes (100 TB posture, SURVEY §7.6):
  *  - The reference's collect-to-driver id list (:45-50) and SQL-literal
  *    IN-lists (:156) are replaced by plain filters/joins — nothing is ever
  *    collected to the driver.
  *  - All geometry is closed-form scalar arithmetic over built-in codegen'd
  *    functions: the whole compute path is one narrow WholeStageCodegen
  *    stage with full column pruning into the parquet scan — zero shuffles.
  *    Inside that stage the projection is its own Project
  *    ([[Segments.withProjected]]), computed once per pending row: inlined
  *    at every use, the stage's row loop grew past HotSpot's 8000-byte
  *    `HugeMethodLimit` and ran in the bytecode interpreter.
  *  - [[merged]] (the flagship, and q_merge_update's engine) computes
  *    conditionally in-row (`when(geom isNull, recompute)`) — the
  *    Spark-native form of the reference's UPDATE, with no join at all.
  *    The reference's staging+update-join shape (R19) lives on in the
  *    tests as `PostingLinesReference.mergedViaJoin`, the form the in-row
  *    merge is held equal to: the in-row form needs no shuffle because
  *    the computed columns derive from the same row.
  */
object PostingLines {
  import Segments.{withProjected, projectedGeom, sogKt, KnotsPerMps, ProjectedCols}

  private def pending(spark: SparkSession, sfDir: String): DataFrame =
    Segments.df(spark, sfDir).filter(col("duration") =!= 0)
      .filter(col("geom").isNull)

  /** Flagship: the full main table after one pipeline run — in-row form. */
  def merged(spark: SparkSession, sfDir: String): DataFrame =
    mergedFrom(Segments.df(spark, sfDir))

  /** In-row merge over an arbitrary segments frame (scale probes, tests).
    * Only pending rows (`geom IS NULL`) are projected; the others keep their
    * stored columns.
    */
  def mergedFrom(seg: DataFrame): DataFrame =
    withProjected(seg.filter(col("duration") =!= 0), col("geom").isNull)
      .withColumn("geom", coalesce(col("geom"), projectedGeom))
      .withColumn("lenm", coalesce(col("lenm"), col("len")))
      .withColumn("sogkt", coalesce(col("sogkt"), sogKt(col("len"), col("duration"))))
      .drop(ProjectedCols: _*)

  // ---- declared queries (SURVEY §2.3 block 1) -----------------------------

  /** Timestamp → epoch microseconds, the cross-engine-stable key form. */
  private def tsUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  private val (seSql, snSql) = Albers.eastNorthSql("startlon", "startlat")
  private val (eeSql, enSql) = Albers.eastNorthSql("endlon", "endlat")
  private val lenSql =
    s"sqrt((($eeSql - $seSql) * ($eeSql - $seSql)) + (($enSql - $snSql) * ($enSql - $snSql)))"

  val queries: Seq[Q] = Seq(
    // R2: SELECT segmentid WHERE geom IS NULL (sql_to_line.py:41) — runs on
    // the raw table, BEFORE the duration delete (v1 ordering, SURVEY §2.1).
    Q("q_pending_scan",
      Segments.oracle(
        "SELECT segmentid FROM segments WHERE geom_srid IS NULL ORDER BY segmentid")) {
      (s, dir) =>
        Segments.df(s, dir).filter(col("geom").isNull)
          .select("segmentid").orderBy("segmentid")
    },

    // R5: DELETE FROM input WHERE duration = 0 (sql_to_line.py:144-149).
    Q("q_filter_zero_duration",
      Segments.oracle(
        "SELECT segmentid, duration FROM segments WHERE duration <> 0 ORDER BY segmentid")) {
      (s, dir) =>
        Segments.df(s, dir).filter(col("duration") =!= 0)
          .select("segmentid", "duration").orderBy("segmentid")
    },

    // R7+R8: distinct processing dates of pending rows (sql_to_line.py:75-88).
    Q("q_distinct_dates",
      Segments.oracle(
        "SELECT DISTINCT CAST(starttime AS DATE) AS d FROM segments WHERE geom_srid IS NULL ORDER BY d")) {
      (s, dir) =>
        Segments.df(s, dir).filter(col("geom").isNull)
          .select(to_date(col("starttime")).as("d")).distinct().orderBy("d")
    },

    // R12: stage one day's pending rows (sql_to_line.py:154-157); the
    // duration filter ran first (v1 call order :71 before :102).
    Q("q_stage_one_day",
      Segments.oracle(
        """SELECT segmentid, epoch_us(starttime) AS starttime_us, duration,
          |       startlat, startlon, endlat, endlon
          |FROM segments
          |WHERE geom_srid IS NULL AND duration <> 0
          |  AND CAST(starttime AS DATE) = DATE '2024-01-02'
          |ORDER BY segmentid""".stripMargin)) { (s, dir) =>
      pending(s, dir)
        .filter(to_date(col("starttime")) === to_date(lit("2024-01-02")))
        .select(col("segmentid"), tsUs(col("starttime")).as("starttime_us"),
          col("duration"), col("startlat"), col("startlon"), col("endlat"),
          col("endlon"))
        .orderBy("segmentid")
    },

    // R13-R15: 2-point LineString in 4326 from endpoint columns
    // (sql_to_line.py:211). Exact arithmetic — no rounding needed.
    Q("q_make_line_4326",
      Segments.oracle(
        """SELECT segmentid, startlon AS sx, startlat AS sy,
          |       endlon AS ex, endlat AS ey, 4326 AS srid
          |FROM segments WHERE geom_srid IS NULL AND duration <> 0
          |ORDER BY segmentid""".stripMargin)) { (s, dir) =>
      pending(s, dir).select(
        col("segmentid"), col("startlon").as("sx"), col("startlat").as("sy"),
        col("endlon").as("ex"), col("endlat").as("ey"), lit(4326).as("srid"))
        .orderBy("segmentid")
    },

    // R16: ST_Transform(geom, 3005) (sql_to_line.py:215) — hand-rolled
    // Albers (SURVEY §7.3); rounded 2 dp (meter scale) to absorb libm ulps.
    Q("q_transform_3005",
      Segments.oracle(
        s"""SELECT segmentid, round($seSql, 2) AS sx, round($snSql, 2) AS sy,
           |       round($eeSql, 2) AS ex, round($enSql, 2) AS ey, 3005 AS srid
           |FROM segments WHERE geom_srid IS NULL AND duration <> 0
           |ORDER BY segmentid""".stripMargin)) { (s, dir) =>
      withProjected(pending(s, dir)).select(
        col("segmentid"), round(col("se"), 2).as("sx"), round(col("sn"), 2).as("sy"),
        round(col("ee"), 2).as("ex"), round(col("en"), 2).as("ey"), lit(3005).as("srid"))
        .orderBy("segmentid")
    },

    // R17+R18: planar length (m) + speed over ground (knots)
    // (sql_to_line.py:219,223).
    Q("q_length_speed",
      Segments.oracle(
        s"""SELECT segmentid, round($lenSql, 2) AS lenm,
           |       round((($lenSql / duration) * $KnotsPerMps), 4) AS sogkt
           |FROM segments WHERE geom_srid IS NULL AND duration <> 0
           |ORDER BY segmentid""".stripMargin)) { (s, dir) =>
      withProjected(pending(s, dir)).select(
        col("segmentid"), round(col("len"), 2).as("lenm"),
        round(sogKt(col("len"), col("duration")), 4).as("sogkt"))
        .orderBy("segmentid")
    },

    // R19: the full main table after the update-join merge
    // (sql_to_line.py:230-234), run through the flagship in-row [[merged]].
    // Stored values on already-processed rows were produced by the
    // identical closed forms, so the oracle recomputes uniformly.
    Q("q_merge_update",
      Segments.oracle(
        s"""SELECT segmentid, uid, mmsi, epoch_us(starttime) AS starttime_us,
           |       duration, startlat, startlon, endlat, endlon, isclassa,
           |       classais, classgen, name, isunique,
           |       epoch_us(lastchange) AS lastchange_us,
           |       round($seSql, 2) AS geom_sx, round($snSql, 2) AS geom_sy,
           |       round($eeSql, 2) AS geom_ex, round($enSql, 2) AS geom_ey,
           |       3005 AS geom_srid, round($lenSql, 2) AS lenm,
           |       round((($lenSql / duration) * $KnotsPerMps), 4) AS sogkt
           |FROM segments WHERE duration <> 0
           |ORDER BY segmentid""".stripMargin)) { (s, dir) =>
      merged(s, dir).select(
        col("segmentid"), col("uid"), col("mmsi"),
        tsUs(col("starttime")).as("starttime_us"), col("duration"),
        col("startlat"), col("startlon"), col("endlat"), col("endlon"),
        col("isclassa"), col("classais"), col("classgen"), col("name"),
        col("isunique"), tsUs(col("lastchange")).as("lastchange_us"),
        round(col("geom.sx"), 2).as("geom_sx"),
        round(col("geom.sy"), 2).as("geom_sy"),
        round(col("geom.ex"), 2).as("geom_ex"),
        round(col("geom.ey"), 2).as("geom_ey"),
        col("geom.srid").as("geom_srid"),
        round(col("lenm"), 2).as("lenm"),
        round(col("sogkt"), 4).as("sogkt"))
        .orderBy("segmentid")
    },

    // R21: per-day staged-segment counts (sql_to_line.py:113-131).
    Q("q_daily_counts",
      Segments.oracle(
        """SELECT CAST(starttime AS DATE) AS d, count(*) AS n
          |FROM segments WHERE geom_srid IS NULL AND duration <> 0
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      pending(s, dir)
        .groupBy(to_date(col("starttime")).as("d")).agg(count(lit(1)).as("n"))
        .orderBy("d")
    }
  )
}
