package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}

/** Data profiling + declarative constraint checks — the quality report a
  * pipeline runs before (and after) every ingest: per-column completeness
  * / cardinality / bounds, and a (check, status, n_violations) report
  * frame in the Deequ/Great-Expectations shape.
  *
  * Scale shape: ONE aggregation pass per profiled table computes every
  * column's statistics together (count/min/max fold map-side; the exact
  * distinct counts share one Expand — the multi-distinct plan Spark
  * already uses for multi-count(DISTINCT) SQL). The single aggregated row
  * per table is bounded model state (O(columns), data-independent), so
  * reshaping it into per-column rows on the driver is a constant-size
  * operation at any corpus size. At 100 TB the one swap worth making is
  * exact distinct → approx_count_distinct (HLL, no Expand) — kept exact
  * here because the DuckDB oracle proves exact values; the HLL register
  * plane (q_hll_registers) already ships the approximate path.
  *
  * Constraint checks fold to conditional counts inside one aggregate per
  * table (plus one anti-join pass for the FK check — the referenced side
  * is a dim table; no hint, the planner picks the join strategy by
  * size). Every check emits a row even when green, so a consumer diffs
  * reports structurally; one check (`o_orderdate_within_1995`) is
  * expected to FAIL on the fixture, proving the fail path end-to-end.
  */
object Profile {

  /** Cross-engine rendering of min/max per column type: integers/strings
    * verbatim, doubles micro-snapped (integer-micro rule), timestamps as
    * epoch micros — every branch a deterministic integer/string cast in
    * both engines.
    */
  private def renderSpark(c: Column, dt: DataType): Column = dt match {
    case LongType | IntegerType => c.cast("string")
    case StringType             => c
    case DoubleType  => round(c * lit(1000000.0)).cast("long").cast("string")
    // NTZ casts to session-zone timestamp first (sessions pin UTC — the
    // Tables.events layout-normalization rule), so epoch micros agree
    // with DuckDB's epoch_us at identical instants
    case TimestampType | TimestampNTZType =>
      unix_micros(c.cast(TimestampType)).cast("string")
    case other => throw new IllegalArgumentException(s"unprofiled type $other")
  }

  private def renderSql(name: String, dt: DataType): (String, String) = dt match {
    case LongType | IntegerType =>
      (s"CAST(min($name) AS VARCHAR)", s"CAST(max($name) AS VARCHAR)")
    case StringType => (s"min($name)", s"max($name)")
    case DoubleType =>
      (s"CAST(CAST(round(min($name) * 1000000.0) AS BIGINT) AS VARCHAR)",
        s"CAST(CAST(round(max($name) * 1000000.0) AS BIGINT) AS VARCHAR)")
    case TimestampType | TimestampNTZType =>
      (s"CAST(epoch_us(min($name)) AS VARCHAR)",
        s"CAST(epoch_us(max($name)) AS VARCHAR)")
    case other => throw new IllegalArgumentException(s"unprofiled type $other")
  }

  private val outSchema = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_null", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("min_val", StringType, nullable = true),
    StructField("max_val", StringType, nullable = true),
    StructField("is_unique", BooleanType, nullable = false)))

  /** Profile several tables with their one-pass aggregations submitted
    * CONCURRENTLY (one driver thread each): the per-table jobs are
    * independent, so the second table's tasks back-fill executors freed
    * by the first's stragglers instead of waiting for a sequential
    * `head()` round-trip per table (guide §2.6 overlap-independent-jobs;
    * 2 tables ≈ the sweet spot). Results are assembled in input order, so
    * output is identical to the sequential form. The futures run on a
    * pool of their own (one thread per table), shut down on exit, so a
    * stuck job can neither starve nor outlive the caller.
    */
  def profileTables(tables: Seq[(DataFrame, String)]): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(tables.nonEmpty, "profileTables needs at least one table")
    val spark = tables.head._1.sparkSession
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val out = try {
      val futures = tables.map { case (df, table) =>
        val cols = df.schema.fields.toSeq
        val aggs = cols.flatMap { f =>
          Seq(count(col(f.name)).as(s"nn_${f.name}"),
            countDistinct(col(f.name)).as(s"nd_${f.name}"),
            renderSpark(min(col(f.name)), f.dataType).as(s"mn_${f.name}"),
            renderSpark(max(col(f.name)), f.dataType).as(s"mx_${f.name}"))
        }
        // NOT spread (round 16, measured and reverted): parallelizing the
        // scan stage here inflated total executor CPU ~9× (4.8 → 44.4
        // CPU-s at sf0.1) for a 0.6 s wall win on local[32] — the Expand ×
        // countDistinct partial buffers are built per task, so 32-way
        // partials multiply the distinct-set maintenance work. The one-pass
        // serial partial + merge is the cheaper total-work shape (and the
        // two tables' jobs already overlap via the futures below).
        val agg = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
        Future {
          val row = agg.head()
          val n   = row.getAs[Long]("n_rows")
          cols.map { f =>
            val nn = row.getAs[Long](s"nn_${f.name}")
            val nd = row.getAs[Long](s"nd_${f.name}")
            Row(table, f.name, n, n - nn, nd,
              row.getAs[String](s"mn_${f.name}"),
              row.getAs[String](s"mx_${f.name}"),
              nn == n && nd == n)
          }
        }
      }
      // bounded: a stuck profile job fails loudly instead of hanging the caller
      futures.flatMap(f => Await.result(f, Duration(30, "min")))
    } finally pool.shutdownNow()
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), outSchema)
  }

  private def profileSql(table: String, cols: Seq[(String, DataType)]): String =
    cols.map { case (name, dt) =>
      val (mn, mx) = renderSql(name, dt)
      s"""SELECT '$table' AS table_name, '$name' AS column_name,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) - count($name) AS BIGINT) AS n_null,
         |       CAST(count(DISTINCT $name) AS BIGINT) AS n_distinct,
         |       $mn AS min_val, $mx AS max_val,
         |       (count($name) = count(*) AND count(DISTINCT $name) = count(*))
         |         AS is_unique
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  private val CustomerCols: Seq[(String, DataType)] = Seq(
    "c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
    "c_mktsegment" -> StringType)

  private val OrdersCols: Seq[(String, DataType)] = Seq(
    "o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType)

  /** The constraint catalog: per-table conditional-count checks (one
    * aggregate pass each) plus the FK anti-join. `expectFail` marks the
    * demonstration check.
    */
  private def statusOf(v: Column): Column =
    when(v === 0L, lit("pass")).otherwise(lit("fail"))

  private[graft] def checksFor(df: DataFrame, table: String,
      checks: Seq[(String, Column)]): DataFrame =
    df.agg(checks.head._2.as("v0"),
        checks.tail.zipWithIndex.map { case ((_, c), i) =>
          c.as(s"v${i + 1}") }: _*)
      .select(explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(table).as("table_name"), lit(name).as("check_name"),
          col(s"v$i").cast("long").as("n_violations"))
      }: _*)).as("r"))
      .select(col("r.table_name"), col("r.check_name"), col("r.n_violations"))

  /** coalesce: sum() over an EMPTY table is NULL in Spark, while the
    * DuckDB oracle's count(*) FILTER is 0 — an empty ingest batch must
    * report pass/0 in both engines.
    */
  private[graft] def vcount(cond: Column): Column =
    coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L))

  def constraintReport(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(s, dir)
    val orders   = Tables.orders(s, dir)
    val lineitem = Tables.lineitem(s, dir)

    val custChecks = checksFor(customer, "customer", Seq(
      "c_custkey_not_null" -> vcount(col("c_custkey").isNull),
      "c_custkey_unique"   -> (count(lit(1)) - countDistinct(col("c_custkey"))),
      "c_acctbal_in_range" -> vcount(col("c_acctbal").isNull ||
        col("c_acctbal") < -1000.0 || col("c_acctbal") > 10000.0)))

    val ordChecks = checksFor(orders, "orders", Seq(
      "o_orderkey_unique"        -> (count(lit(1)) - countDistinct(col("o_orderkey"))),
      "o_totalprice_positive"    -> vcount(col("o_totalprice").isNull ||
        col("o_totalprice") <= 0.0),
      "o_orderdate_within_1995"  -> vcount(col("o_orderdate").isNull ||
        year(col("o_orderdate")) =!= 1995)))

    val liChecks = checksFor(lineitem, "lineitem", Seq(
      "l_quantity_range_1_50" -> vcount(col("l_quantity").isNull ||
        col("l_quantity") < 1.0 || col("l_quantity") > 50.0)))

    val fk = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_violations"))
      .select(lit("orders").as("table_name"),
        lit("o_custkey_fk_customer").as("check_name"), col("n_violations"))

    custChecks.unionByName(ordChecks).unionByName(liChecks).unionByName(fk)
      .withColumn("status", statusOf(col("n_violations")))
      .select("table_name", "check_name", "status", "n_violations")
      .orderBy("table_name", "check_name")
  }

  // ---- incremental (mergeable) profile algebra --------------------------

  /** The tall per-(row, column) frame for the incremental profile: one
    * struct per profiled column carrying the canonical distinct-hash key
    * (doubles micro-snapped, timestamps epoch-us — identical strings in
    * both engines), the numeric image for min/max, and the string image
    * for string-typed columns.
    */
  private def tallEvents(ev: DataFrame): DataFrame = {
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val micro = round(col("value") * lit(1000000.0)).cast("long")
    ev.select(col("half"), explode(array(
        struct(lit("event_type").as("cname"), col("event_type").as("key"),
          nullL.as("num"), col("event_type").as("str")),
        struct(lit("ts").as("cname"),
          unix_micros(col("ts")).cast("string").as("key"),
          unix_micros(col("ts")).as("num"), nullS.as("str")),
        struct(lit("user_id").as("cname"),
          col("user_id").cast("string").as("key"),
          col("user_id").as("num"), nullS.as("str")),
        struct(lit("value").as("cname"), micro.cast("string").as("key"),
          micro.as("num"), nullS.as("str")))).as("c"))
      .select(col("half"), col("c.cname"), col("c.key"), col("c.num"),
        col("c.str"))
  }

  /** [[tallEvents]] in SQL: the (carry…, cname, key, num, str) union of
    * `from`'s four profiled columns.
    */
  private def tallSql(from: String, carry: String*): String = {
    val c = carry.map(_ + ", ").mkString
    s"""SELECT ${c}'event_type' AS cname, event_type AS key,
       |         CAST(NULL AS BIGINT) AS num, event_type AS str FROM $from
       |  UNION ALL SELECT ${c}'ts', CAST(epoch_us(ts) AS VARCHAR),
       |         epoch_us(ts), NULL FROM $from
       |  UNION ALL SELECT ${c}'user_id', CAST(user_id AS VARCHAR),
       |         user_id, NULL FROM $from
       |  UNION ALL SELECT ${c}'value',
       |         CAST(CAST(round(value * 1000000.0) AS BIGINT) AS VARCHAR),
       |         CAST(round(value * 1000000.0) AS BIGINT), NULL FROM $from""".stripMargin
  }

  /** Per-batch profile STATE, keyed by `half`: the count/min-max partials
    * plus the per-column HLL register matrix (≤ M rows per column). Each
    * batch's state is bounded model state — O(columns · M) rows
    * regardless of batch size.
    */
  private[graft] def incrementalStates(ev: DataFrame)
      : (DataFrame, DataFrame) = {
    import graft.functions.exprs.poly_hash
    val tall = tallEvents(ev)
    val counts = tall.groupBy("half", "cname").agg(
      count(lit(1)).as("n"),
      sum(when(col("key").isNull, 1L).otherwise(0L)).as("n_null"),
      min("num").as("mn_num"), max("num").as("mx_num"),
      min("str").as("mn_str"), max("str").as("mx_str"))
    val regs = Sketches.registers(tall.filter(col("key").isNotNull)
        .select(col("half"), col("cname"), poly_hash(col("key")).as("h")),
      Seq("half", "cname"), "h", Sketches.RankCap)
    (counts, regs)
  }

  /** Merge profile states across batches: counts ADD, min/max FOLD,
    * registers take the per-bucket MAX — every operation associative and
    * commutative, so any ingest order yields the same profile. Only the
    * bounded states meet here; the raw batches never do.
    */
  private[graft] def mergeProfileStates(states: (DataFrame, DataFrame))
      : (DataFrame, DataFrame) = {
    val (counts, regs) = states
    (counts.groupBy("cname").agg(
        sum("n").as("n_rows"), sum("n_null").as("n_null"),
        min("mn_num").as("mn_num"), max("mx_num").as("mx_num"),
        min("mn_str").as("mn_str"), max("mx_str").as("mx_str")),
      regs.groupBy("cname", "bucket").agg(max("register").as("register")))
  }

  /** Finalize a merged state into the profile row per column (the
    * q_hll_estimate integer-scaled estimator convention).
    */
  private[graft] def finalizeProfile(merged: (DataFrame, DataFrame))
      : DataFrame = {
    val (counts, regs) = merged
    counts.join(Sketches.scaledDenom(regs, "cname"), "cname")
      .select(col("cname").as("column_name"), col("n_rows"), col("n_null"),
        coalesce(col("mn_num").cast("string"), col("mn_str")).as("min_val"),
        coalesce(col("mx_num").cast("string"), col("mx_str")).as("max_val"),
        col("present"), col("est_scaled"))
      .orderBy("column_name")
  }

  /** The profile drift gate, relative change over 20% by integer
    * cross-multiplication: |after − before|·5 > max(|before|, 1) — never a
    * float compare.
    */
  private def drifted(before: Column, after: Column): Column =
    abs(after - before) * 5 > greatest(abs(before), lit(1L))

  private def driftedSql(before: String, after: String): String =
    s"(abs($after - $before) * 5 > greatest(abs($before), 1))"

  /** Drift rows between two MERGED profile states (the
    * [[mergeProfileStates]] shape) — the streaming drift feed's kernel:
    * unpivot each side to (cname, stat, value) over the mergeable
    * statistics (row count, null count, HLL distinct estimate, numeric
    * min/max), join on (cname, stat), and gate with the q_profile_drift
    * integer cross-multiplication (|after−before|·5 > max(|before|,1) —
    * relative change > 20%, never a float compare). The distinct stat is
    * the HLL estimate (exact distincts do not merge): the est_scaled
    * integer downshifted 37 bits so the ·5 gate cannot overflow int64
    * (raw est_scaled reaches M·2^57 ≈ 2^63; the shift keeps 2^20 scale
    * resolution and cancels in the ratio). min/max rows drop for
    * string-only columns (both sides null — the q_profile_drift
    * event_type rule made generic). Every input frame is bounded model
    * state, so this is driver-cheap at any stream length.
    */
  private[graft] def driftStates(before: (DataFrame, DataFrame),
      current: (DataFrame, DataFrame)): DataFrame = {
    def tall(st: (DataFrame, DataFrame)): DataFrame = {
      val hll = Sketches.scaledDenom(st._2, "cname")
        .select(col("cname"), shiftright(col("est_scaled"), 37).as("est"))
      st._1.join(hll, "cname")
        .select(col("cname"), explode(array(
          struct(lit("n").as("stat"), col("n_rows").as("v")),
          struct(lit("n_null").as("stat"), col("n_null").as("v")),
          struct(lit("distinct_hll").as("stat"), col("est").as("v")),
          struct(lit("min_num").as("stat"), col("mn_num").as("v")),
          struct(lit("max_num").as("stat"), col("mx_num").as("v")))).as("r"))
        .select(col("cname"), col("r.stat"), col("r.v"))
    }
    tall(before).withColumnRenamed("v", "stat_before")
      .join(tall(current).withColumnRenamed("v", "stat_after"),
        Seq("cname", "stat"))
      .filter(!(col("stat").isin("min_num", "max_num")
        && col("stat_before").isNull && col("stat_after").isNull))
      .select(col("cname").as("column_name"), col("stat"),
        col("stat_before"), col("stat_after"),
        drifted(col("stat_before"), col("stat_after")).as("drifted"))
      .orderBy("column_name", "stat")
  }

  /** Two-snapshot drift frame over an events-shaped input (needs
    * event_id + the profiled columns) — q_profile_drift's engine, exposed
    * for the spec. See the query scaladoc for the
    * threshold algebra.
    */
  private[graft] def profileDrift(ev0: DataFrame): DataFrame = {
    val maxId = ev0.agg(max("event_id")).head.getLong(0)
    val tall = tallEvents(ev0.withColumn("half",
      when(expr(s"event_id * 4 div ${maxId + 1}") === 0, lit(0L))
        .otherwise(lit(1L))))
    val stats = tall.groupBy("half", "cname").agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count(col("key"))).as("n_null"),
      countDistinct(col("key")).as("n_distinct"),
      min("num").as("mn"), max("num").as("mx"))
    val before = stats.filter(col("half") === 0)
      .select(col("cname"), col("n").as("bn"), col("n_null").as("bnull"),
        col("n_distinct").as("bd"), col("mn").as("bmn"), col("mx").as("bmx"))
    val after = stats.filter(col("half") === 1)
      .select(col("cname"), col("n").as("an"), col("n_null").as("anull"),
        col("n_distinct").as("ad"), col("mn").as("amn"), col("mx").as("amx"))
    before.join(after, "cname")
      .select(col("cname"), explode(array(
        struct(lit("n").as("stat"), col("bn").as("stat_before"),
          col("an").as("stat_after")),
        struct(lit("n_null").as("stat"), col("bnull").as("stat_before"),
          col("anull").as("stat_after")),
        struct(lit("n_distinct").as("stat"), col("bd").as("stat_before"),
          col("ad").as("stat_after")),
        struct(lit("min_num").as("stat"), col("bmn").as("stat_before"),
          col("amn").as("stat_after")),
        struct(lit("max_num").as("stat"), col("bmx").as("stat_before"),
          col("amx").as("stat_after")))).as("r"))
      .select(col("cname").as("column_name"), col("r.stat"),
        col("r.stat_before"), col("r.stat_after"))
      .filter(!(col("column_name") === "event_type" &&
        col("stat").isin("min_num", "max_num")))
      .withColumn("drifted", drifted(col("stat_before"), col("stat_after")))
  }

  val queries: Seq[Q] = Seq(

    Q("q_profile_columns",
      s"""${profileSql("customer", CustomerCols)}
         |UNION ALL
         |${profileSql("orders", OrdersCols)}
         |ORDER BY table_name, column_name""".stripMargin) { (s, dir) =>
      profileTables(Seq(Tables.customer(s, dir) -> "customer",
          Tables.orders(s, dir) -> "orders"))
        .orderBy("table_name", "column_name")
    },

    Q("q_constraint_report",
      """SELECT table_name, check_name,
        |       CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status,
        |       n_violations
        |FROM (
        |  SELECT 'customer' AS table_name, 'c_custkey_not_null' AS check_name,
        |         CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT) AS n_violations
        |  FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'c_custkey_unique',
        |         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'c_acctbal_in_range',
        |         CAST(count(*) FILTER (c_acctbal IS NULL
        |              OR c_acctbal < -1000.0 OR c_acctbal > 10000.0) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', 'o_orderkey_unique',
        |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_totalprice_positive',
        |         CAST(count(*) FILTER (o_totalprice IS NULL
        |              OR o_totalprice <= 0.0) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_orderdate_within_1995',
        |         CAST(count(*) FILTER (o_orderdate IS NULL
        |              OR year(o_orderdate) <> 1995) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_custkey_fk_customer',
        |         CAST((SELECT count(*) FROM orders o
        |               LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |               WHERE c.c_custkey IS NULL) AS BIGINT)
        |  UNION ALL
        |  SELECT 'lineitem', 'l_quantity_range_1_50',
        |         CAST(count(*) FILTER (l_quantity IS NULL
        |              OR l_quantity < 1.0 OR l_quantity > 50.0) AS BIGINT)
        |  FROM lineitem)
        |ORDER BY table_name, check_name""".stripMargin)(constraintReport),

    // INCREMENTAL (mergeable) PROFILE — profile-on-ingest without a
    // full-table repass: every statistic is an algebra whose states
    // merge associatively (counts add, min/max fold, distinct rides the
    // oracle-checked HLL register matrix whose merge is per-bucket MAX —
    // the q_hll_registers plane applied per COLUMN). The engine computes
    // the state per half (event_id % 2 — two "ingest batches"), merges
    // ONLY the states, and finalizes; the oracle computes the whole table
    // directly — row equality IS the mergeability theorem, cell-exact,
    // including the integer-scaled HLL estimate (dyadic-rational
    // denominator, the q_hll_estimate convention). Distinct keys are
    // canonicalized before hashing (doubles micro-snapped, timestamps as
    // epoch micros) so both engines hash identical strings. Scale shape:
    // the tall frame is rows × columns inside the scan stage (the
    // profiler's Expand analog), each state is ≤ M+1 rows per column —
    // bounded model state per batch; a 100 TB ingest keeps the running
    // state and folds each arriving batch in O(batch) — the exact
    // pattern StreamingSpec already proves for windowed HLL registers.
    Q("q_profile_incremental",
      s"""WITH keys AS (${tallSql("events")}),
         |cnts AS (
         |  SELECT cname, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(*) - count(key) AS BIGINT) AS n_null,
         |         coalesce(CAST(min(num) AS VARCHAR), min(str)) AS min_val,
         |         coalesce(CAST(max(num) AS VARCHAR), max(str)) AS max_val
         |  FROM keys GROUP BY cname),
         |hashed AS (
         |  SELECT cname, ${Dedup.hashSql("key")} AS h
         |  FROM keys WHERE key IS NOT NULL),
         |regs AS (${Sketches.registersSql("hashed", Seq("cname"), "h", Sketches.RankCap)}),
         |hll AS (${Sketches.scaledDenomSql("regs", "cname")})
         |SELECT cname AS column_name, n_rows, n_null, min_val, max_val,
         |       present, est_scaled
         |FROM cnts JOIN hll USING (cname)
         |ORDER BY column_name""".stripMargin) { (s, dir) =>
      val halves = incrementalStates(
        Tables.events(s, dir).withColumn("half", col("event_id") % 2))
      finalizeProfile(mergeProfileStates(halves))
    },

    // PROFILE DRIFT report — the schema/distribution monitor that pairs
    // with q_drift_daily: diff two profile snapshots (here the first
    // QUARTER of event ids vs the rest — the checkpoint-count bucketing
    // pattern; ids arrive in time order, so the split is a short early
    // era vs the longer tail, the yesterday-vs-last-month comparison a
    // monitor actually runs) into one (column, stat, before, after,
    // drifted) row per tracked statistic. All stats are exact int64
    // (counts, exact distincts, micro-snapped numeric min/max), and the
    // drift gate is integer cross-multiplication —
    // |after−before|·5 > max(|before|,1), i.e. relative change > 20% —
    // never a float compare. Both statuses appear at EVERY shipped scale
    // by construction: the 1:3 eras make the per-column row counts
    // drift (volume drift), while the categorical event_type arity,
    // null counts, and the user_id domain hold.
    // Scale shape: one narrow tall-frame aggregate per snapshot (the
    // incremental profiler's Expand analog), a 2×|columns|-row pivot
    // join, and a constant-width explode — the corpus never shuffles
    // more than (half, cname)-keyed partials; the max(event_id) seed is
    // a single-value driver collect (bounded model state, the packing-
    // offset precedent).
    Q("q_profile_drift",
      s"""WITH mxr AS (SELECT max(event_id) AS m FROM events),
         |e AS (SELECT CASE WHEN event_id * 4 // (m + 1) = 0 THEN 0 ELSE 1
         |             END AS half, ts, user_id,
         |             event_type, value FROM events, mxr),
         |t AS (${tallSql("e", "half")}),
         |s AS (SELECT half, cname, CAST(count(*) AS BIGINT) AS n,
         |             CAST(count(*) - count(key) AS BIGINT) AS n_null,
         |             CAST(count(DISTINCT key) AS BIGINT) AS n_distinct,
         |             min(num) AS mn, max(num) AS mxv
         |      FROM t GROUP BY half, cname),
         |j AS (SELECT a.cname, a.n AS bn, b.n AS an, a.n_null AS bnull,
         |             b.n_null AS anull, a.n_distinct AS bd,
         |             b.n_distinct AS ad, a.mn AS bmn, b.mn AS amn,
         |             a.mxv AS bmx, b.mxv AS amx
         |      FROM s a JOIN s b ON a.cname = b.cname
         |                       AND a.half = 0 AND b.half = 1),
         |st AS (
         |  SELECT cname, 'n' AS stat, bn AS stat_before, an AS stat_after FROM j
         |  UNION ALL SELECT cname, 'n_null', bnull, anull FROM j
         |  UNION ALL SELECT cname, 'n_distinct', bd, ad FROM j
         |  UNION ALL SELECT cname, 'min_num', bmn, amn FROM j
         |            WHERE cname <> 'event_type'
         |  UNION ALL SELECT cname, 'max_num', bmx, amx FROM j
         |            WHERE cname <> 'event_type')
         |SELECT cname AS column_name, stat, stat_before, stat_after,
         |       ${driftedSql("stat_before", "stat_after")} AS drifted
         |FROM st ORDER BY column_name, stat""".stripMargin) { (s, dir) =>
      profileDrift(Tables.events(s, dir)).orderBy("column_name", "stat")
    },

    // The constraint catalog as a LIVE per-window feed — the batch twin
    // of streaming.Streams.constraintMonitor (same code path; StreamingSpec
    // proves batch ≡ stream on an out-of-order feed). One windowed
    // aggregate, each check a stateless conditional sum; this is how the
    // report above runs on an ingest stream rather than a parked table.
    Q("q_constraint_windowed",
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_us,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) FILTER (value IS NULL OR value < 1.0)
        |            AS BIGINT) AS v_value_low,
        |       CAST(count(*) FILTER (event_type IS NULL OR event_type
        |            NOT IN ('click', 'error', 'purchase', 'signup', 'view'))
        |            AS BIGINT) AS v_unknown_type
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.streaming.Streams.constraintMonitor(Tables.events(s, dir))
        .orderBy("window_us")
    }
  )
}
