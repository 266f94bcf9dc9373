package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Advanced engine surface: skew-salted aggregation, the SQL entry point
  * (GROUPING SETS), and a typed Aggregator UDAF — each oracle-checked
  * against a plain formulation, proving the optimized path is semantics-
  * preserving.
  */
object Advanced {

  import Relational.cents

  /** Typed UDAF: sum of squared integer values — exact integer arithmetic
    * end-to-end, so the oracle is plain SQL. Demonstrates
    * Aggregator[IN, BUF, OUT] with partial merge (map-side combine happens
    * automatically). Inputs must be pre-scaled so Σx² stays far below 2^63
    * (q_udaf_sumsq feeds integer DOLLARS, like q_stats_moments — cents²
    * sums overflow int64 near sf≈5, where Spark wraps silently but DuckDB
    * promotes to HUGEINT: a silent cross-engine split); addExact makes any
    * residual overflow fail loudly instead of diverging from the oracle.
    */
  object SumSqLong extends Aggregator[Long, Long, Long] {
    def zero: Long                       = 0L
    def reduce(b: Long, a: Long): Long   = Math.addExact(b, Math.multiplyExact(a, a))
    def merge(b1: Long, b2: Long): Long  = Math.addExact(b1, b2)
    def finish(b: Long): Long            = b
    def bufferEncoder: Encoder[Long]     = Encoders.scalaLong
    def outputEncoder: Encoder[Long]     = Encoders.scalaLong
  }

  /** The q_ewma_daily kernel over an explicit (event_type, d, cents)
    * grid — shared with the streaming fold ([[graft.streaming.Streams]]
    * maintains the grid incrementally; the EWMA trajectory is a view
    * over it). All folds run on the bounded grid.
    */
  private[graft] def ewmaFromDaily(daily: DataFrame): DataFrame = {
    val srt = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("d"), col("cents")))).as("dv"))
      .select(col("event_type"),
        expr("transform(dv, x -> x.d)").as("ds"),
        expr("transform(dv, x -> x.cents)").as("vs"))
    // prefix folds: aggregate(slice) with the first element as init ==
    // DuckDB list_reduce over the same 1-based prefix
    val tr = srt.withColumn("es", expr(
      "transform(sequence(1, size(vs)), i -> " +
        "aggregate(slice(vs, 2, i - 1), element_at(vs, 1), " +
        "(a, b) -> (3L * a + b) div 4))"))
    tr.select(col("event_type"), explode(expr(
        "transform(sequence(1, size(ds)), i -> struct(" +
          "element_at(ds, i) AS d, element_at(vs, i) AS cents, " +
          "element_at(es, i) AS ewma))")).as("u"))
      .select(col("event_type"), col("u.d"), col("u.cents"), col("u.ewma"))
  }

  /** The q_drift_daily kernel over an explicit (d, event_type, n) count
    * grid — shared with the streaming fold ([[graft.streaming.Streams]]
    * maintains the grid incrementally; drift is a view over it). All
    * arithmetic on frames bounded by taxonomy × retention.
    */
  private[graft] def driftFromCounts(c: DataFrame): DataFrame = {
    val days  = c.select("d").distinct()
    val types = c.select("event_type").distinct()
    val tt = types.agg(count(lit(1)).as("t")) // single-row: allowlisted
    val fl = days.crossJoin(types)
      .join(c, Seq("d", "event_type"), "left")
      .withColumn("n0", coalesce(col("n"), lit(0L)))
    val tot = fl.groupBy("d").agg(sum("n0").as("nd"))
    val lp = fl.join(tot, "d").crossJoin(broadcast(tt))
      .withColumn("lp_micro",
        round(log((col("n0") + 1).cast("double") / (col("nd") + col("t")))
          * 1000000).cast("long"))
    val a = lp.select(col("d"), col("event_type"), col("n0"), col("nd"),
      col("t"), col("lp_micro"))
    val b = lp.select(col("event_type").as("b_type"), col("d").as("bd"),
      col("lp_micro").as("lp_prev"))
    a.join(b, col("event_type") === col("b_type") &&
        col("bd") === date_sub(col("d"), 1))
      .groupBy(a("d"))
      .agg(min("nd").as("n_events"),
        sum((col("n0") + 1) * (col("lp_micro") - col("lp_prev")))
          .as("kl_scaled"),
        (sum((col("n0") + 1) * (col("lp_micro") - col("lp_prev")))
          / min(col("nd") + col("t")).cast("double")).as("kl_micro"))
      .orderBy("d")
  }

  /** CUSUM kernel over an explicit (d, c) daily-count frame — the engine
    * side of q_cusum_changepoint, factored out so AdvancedSpec can feed a
    * constructed mean-shifted series. Both ≤-joins broadcast day-bounded
    * frames (the q_cum_distinct_users allowlist class); the single-row
    * stats frame rides the same hint.
    */
  private[graft] def cusumFrom(dc: DataFrame): DataFrame = {
    val st = dc.agg(expr("sum(c) div count(1)").as("mean"))
    val b  = dc.select(col("d").as("xd"), col("c").as("xc"))
    val pre = dc.select("d")
      .join(broadcast(b), col("xd") <= col("d"))
      .groupBy("d")
      .agg(sum(when(col("xd") === col("d"), col("xc"))).as("c"),
        count(lit(1)).as("nd"), sum("xc").as("cs"))
      .crossJoin(broadcast(st))
      .select(col("d"), col("c"), col("mean"),
        (col("cs") - col("nd") * (col("mean") + expr("mean div 20"))).as("pu"),
        (col("nd") * (col("mean") - expr("mean div 20")) - col("cs")).as("pd"))
    val rp = pre.select(col("d").as("xd"), col("pu").as("xpu"),
      col("pd").as("xpd"))
    pre.join(broadcast(rp), col("xd") <= col("d"))
      .groupBy("d")
      .agg(min(col("c")).as("c"), min(col("mean")).as("mean"),
        min(col("pu")).as("pu"), min(col("pd")).as("pd"),
        min(col("xpu")).as("rmu"), min(col("xpd")).as("rmd"))
      .select(col("d"), col("c"),
        (col("pu") - least(lit(0L), col("rmu"))).as("s_up"),
        (col("pd") - least(lit(0L), col("rmd"))).as("s_dn"),
        ((col("pu") - least(lit(0L), col("rmu"))) > expr("mean div 2"))
          .as("flag_up"),
        ((col("pd") - least(lit(0L), col("rmd"))) > expr("mean div 2"))
          .as("flag_dn"))
  }

  val queries: Seq[Q] = Seq(

    // Skew-salted aggregation: events.user_id is pathologically skewed
    // (~15 users for the whole table). Phase 1 aggregates on
    // (user_id, salt) — 32-way fan-out of each hot key — phase 2 merges
    // partials. The oracle is the UNSALTED aggregation: identical results
    // prove the rewrite is semantics-preserving. Salt must not affect
    // float totals → integer cents make the partial sums reassociable.
    Q("q_skew_salted_agg",
      """SELECT user_id, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val salted = Tables.events(s, dir)
        .withColumn("salt", pmod(col("event_id"), lit(32)))
        .groupBy("user_id", "salt")
        .agg(count(lit(1)).as("pn"), sum(cents(col("value"))).as("pc"),
          max(cents(col("value"))).as("pm"))
      salted.groupBy("user_id")
        .agg(sum(col("pn")).as("n"), sum(col("pc")).as("value_cents"),
          max(col("pm")).as("max_cents"))
        .orderBy("user_id")
    },

    // SQL entry point: the same engine drives spark.sql(...) text — here a
    // GROUPING SETS aggregation (finer-grained than ROLLUP/CUBE).
    Q("q_sql_grouping_sets",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS pri, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, pri""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS pri, count(*) AS n,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, pri""".stripMargin)
    },

    // SQL-text correlated EXISTS / NOT EXISTS — the subquery entry point
    // (the DataFrame twins are q_semi_anti_customers' left_semi/left_anti;
    // Catalyst rewrites both forms to the same semi/anti joins).
    Q("q_sql_exists",
      """SELECT c_custkey, c_mktsegment,
        |       EXISTS(SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000) AS has_big,
        |       NOT EXISTS(SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey) AS inactive
        |FROM customer c ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v2")
      s.sql(
        """SELECT c_custkey, c_mktsegment,
          |       EXISTS(SELECT 1 FROM orders_v2 o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 400000) AS has_big,
          |       NOT EXISTS(SELECT 1 FROM orders_v2 o
          |                  WHERE o.o_custkey = c.c_custkey) AS inactive
          |FROM customer_v c ORDER BY c_custkey""".stripMargin)
    },

    // Regex group extraction: pull structured fields out of free text with
    // capture groups (RE2 ∩ java.regex dialect, like the PII patterns).
    Q("q_regexp_groups",
      """SELECT doc_id,
        |       regexp_extract(text, '^([a-z]+) ([a-z]+)', 1) AS w1,
        |       regexp_extract(text, '^([a-z]+) ([a-z]+)', 2) AS w2,
        |       CAST(length(regexp_extract(text, '^([a-z]+) ([a-z]+)', 2)) AS INTEGER)
        |         AS w2_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pat = "^([a-z]+) ([a-z]+)"
      Tables.documents(s, dir).select(col("doc_id"),
        regexp_extract(col("text"), pat, 1).as("w1"),
        regexp_extract(col("text"), pat, 2).as("w2"),
        length(regexp_extract(col("text"), pat, 2)).as("w2_len"))
        .orderBy("doc_id")
    },

    // Schema-on-read JSON: from_json with an explicit schema → typed field
    // access (the structured twin of q_json_props' get_json_object path;
    // a real ingest declares the schema once and gets typed columns).
    Q("q_from_json_typed",
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       count(*) AS n,
        |       count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k")
      Tables.events(s, dir)
        .select((k % 10).as("k_mod"), k.as("k"))
        .groupBy("k_mod")
        .agg(count(lit(1)).as("n"), countDistinct("k").as("n_k"))
        .orderBy("k_mod")
    },

    // Exact percentiles: Spark `percentile` and DuckDB `quantile_cont`
    // share the linear-interpolation definition; rounded 4 dp to absorb
    // any last-ulp drift in the interpolation arithmetic.
    Q("q_percentiles",
      """SELECT o_orderstatus,
        |       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy("o_orderstatus")
          .agg(
            round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
            round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
          .orderBy("o_orderstatus")
    },

    // Statistical moments derived from EXACT integer sums. Integer DOLLARS
    // (not cents) so Σd² stays far below 2^63 at any realistic scale
    // (cents² sums overflow int64 around sf0.1 — DuckDB would promote to
    // HUGEINT while Spark wraps, a silent cross-engine split). Variance is
    // computed division-first ((Σd/n)·Σd, both engines in the same order)
    // so the intermediate never leaves double range.
    Q("q_stats_moments",
      """WITH x AS (SELECT o_orderstatus,
        |                  CAST(round(o_totalprice) AS BIGINT) AS d
        |           FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(d) AS BIGINT) AS sum_d,
        |       CAST(sum(d * d) AS BIGINT) AS sumsq_d,
        |       (CAST(sum(d) AS BIGINT) / count(*)) AS mean_d,
        |       ((CAST(sum(d * d) AS BIGINT)
        |          - (CAST(sum(d) AS BIGINT) / count(*)) * CAST(sum(d) AS BIGINT))
        |        / (count(*) - 1)) AS var_d
        |FROM x GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, dir) =>
        val d = round(col("o_totalprice")).cast("long")
        Tables.orders(s, dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(d).as("sum_d"), sum(d * d).as("sumsq_d"))
          .select(col("o_orderstatus"), col("n"), col("sum_d"), col("sumsq_d"),
            (col("sum_d") / col("n")).as("mean_d"),
            ((col("sumsq_d") - (col("sum_d") / col("n")) * col("sum_d"))
              / (col("n") - 1)).as("var_d"))
          .orderBy("o_orderstatus")
    },

    // Pivot (wide aggregation): order counts + cents per priority, one
    // column group per order status. Spark pivot ≡ SQL conditional
    // aggregation, which is exactly the oracle formulation.
    Q("q_pivot_status",
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS f_n,
        |  count(*) FILTER (o_orderstatus = 'O') AS o_n,
        |  count(*) FILTER (o_orderstatus = 'P') AS p_n,
        |  coalesce(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    FILTER (o_orderstatus = 'F') AS BIGINT), 0) AS f_cents,
        |  coalesce(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    FILTER (o_orderstatus = 'O') AS BIGINT), 0) AS o_cents,
        |  coalesce(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    FILTER (o_orderstatus = 'P') AS BIGINT), 0) AS p_cents
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, dir) =>
        val piv = Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("cents"))
        piv.select(col("o_orderpriority"),
          // pivot yields NULL (not 0) for empty cells — match FILTER's 0
          coalesce(col("F_n"), lit(0L)).as("f_n"),
          coalesce(col("O_n"), lit(0L)).as("o_n"),
          coalesce(col("P_n"), lit(0L)).as("p_n"),
          coalesce(col("F_cents"), lit(0L)).as("f_cents"),
          coalesce(col("O_cents"), lit(0L)).as("o_cents"),
          coalesce(col("P_cents"), lit(0L)).as("p_cents"))
          .orderBy("o_orderpriority")
    },

    // Equi-width value histogram over events.value: pure-arithmetic
    // bucketing (floor(value / width), clamped) — deterministic in both
    // engines without relying on width_bucket dialects. One partial+final
    // aggregation; Θ(buckets) output regardless of volume.
    Q("q_value_histogram",
      """WITH h AS (
        |  SELECT least(CAST(floor(value / 50) AS BIGINT), 19) AS bucket
        |  FROM events
        |)
        |SELECT bucket, bucket * 50 AS lo, (bucket + 1) * 50 AS hi,
        |       count(*) AS n
        |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(least(floor(col("value") / 50).cast("long"), lit(19L)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .select(col("bucket"), (col("bucket") * 50).as("lo"),
          ((col("bucket") + 1) * 50).as("hi"), col("n"))
        .orderBy("bucket")
    },

    // UNPIVOT (melt): the inverse of q_pivot_status — wide status columns
    // back to (priority, status, n) rows via stack(); DuckDB mirrors with
    // a UNION ALL spine. Narrow row-local reshape: no shuffle beyond the
    // source aggregation.
    Q("q_unpivot_status",
      """WITH w AS (
        |  SELECT o_orderpriority,
        |    count(*) FILTER (o_orderstatus = 'F') AS f_n,
        |    count(*) FILTER (o_orderstatus = 'O') AS o_n,
        |    count(*) FILTER (o_orderstatus = 'P') AS p_n
        |  FROM orders GROUP BY o_orderpriority
        |)
        |SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority, 'F' AS status, f_n AS n FROM w
        |  UNION ALL SELECT o_orderpriority, 'O', o_n FROM w
        |  UNION ALL SELECT o_orderpriority, 'P', p_n FROM w
        |) ORDER BY o_orderpriority, status""".stripMargin) { (s, dir) =>
      val w = Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"), coalesce(col("F"), lit(0L)).as("f_n"),
          coalesce(col("O"), lit(0L)).as("o_n"), coalesce(col("P"), lit(0L)).as("p_n"))
      w.select(col("o_orderpriority"),
        expr("stack(3, 'F', f_n, 'O', o_n, 'P', p_n) AS (status, n)"))
        .orderBy("o_orderpriority", "status")
    },

    // Edit-distance (Levenshtein) over consecutive-id doc-prefix pairs —
    // the character-level near-dup family member (MinHash/SimHash are
    // token/bit-level). Bounded to 80-char prefixes: edit distance is
    // O(len²) per pair, so production use screens candidates first (LSH)
    // and bounds lengths — exactly what this query demonstrates. Inputs
    // are projected to ASCII first (both engines): DuckDB's levenshtein
    // edits BYTES while Spark's edits CODEPOINTS, so a multibyte char
    // would silently split the engines — the same byte-vs-codepoint trap
    // polyHash guards against.
    Q("q_levenshtein_pairs",
      """WITH p AS (
        |  SELECT doc_id,
        |         substr(regexp_replace(text, '[^\x00-\x7F]', '', 'g'), 1, 80) AS t
        |  FROM documents
        |)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist
        |FROM p a JOIN p b ON b.doc_id = a.doc_id + 1
        |ORDER BY d1""".stripMargin) { (s, dir) =>
      val p = Tables.documents(s, dir)
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""), 1, 80).as("t"))
      val a = p.select(col("doc_id").as("d1"), col("t").as("t1"))
      val b = p.select(col("doc_id").as("d2"), col("t").as("t2"))
      a.join(b, col("d2") === col("d1") + 1)
        .select(col("d1"), col("d2"), levenshtein(col("t1"), col("t2")).as("dist"))
        .orderBy("d1")
    },

    // Gap-filled daily counts: LEFT JOIN a generated date spine so days
    // with zero events still appear — the resample/zero-fill shape every
    // time-series consumer needs. The spine derives from the measured
    // min/max day (two-row aggregate, broadcast); density is restored
    // without a window or driver loop.
    Q("q_gap_fill_daily",
      """WITH b AS (
        |  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
        |), spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b
        |), daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY day
        |)
        |SELECT spine.day, coalesce(daily.n, 0) AS n
        |FROM spine LEFT JOIN daily ON spine.day = daily.day
        |ORDER BY spine.day""".stripMargin) { (s, dir) =>
      val ev    = Tables.events(s, dir).select(to_date(col("ts")).as("day"))
      val b     = ev.agg(min("day").as("d0"), max("day").as("d1"))
      val spine = b.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val daily = ev.groupBy("day").agg(count(lit(1)).as("n"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day")
    },

    // Typed Aggregator UDAF over integer dollars (per market segment) —
    // dollars, not cents, for the magnitude budget (see SumSqLong).
    Q("q_udaf_sumsq",
      """SELECT c_mktsegment,
        |       CAST(sum(CAST(round(c_acctbal) AS BIGINT)
        |              * CAST(round(c_acctbal) AS BIGINT)) AS BIGINT) AS sumsq_dollars
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, dir) =>
        val sumsq = udaf(SumSqLong)
        Tables.customer(s, dir)
          .groupBy("c_mktsegment")
          .agg(sumsq(round(col("c_acctbal")).cast("long")).as("sumsq_dollars"))
          .orderBy("c_mktsegment")
    },

    // Linear-regression stats (slope/intercept/corr of price on quantity
    // per return flag), built from EXACT integer sums rather than the
    // built-in regr_* aggregates: float accumulation order differs across
    // engines, but integer sums are order-free, and the closing
    // double-precision tree is the same IEEE expression on both sides —
    // the cross-engine-exact form of q_stats_moments. Integer dollars
    // (not cents) keep sum(y²) ≤ ~6e15 at sf0.1, inside both int64 and
    // the 2^53 double-exact range; at 100 TB promote the sums to
    // DECIMAL(38) (Spark) / HUGEINT (DuckDB) — same shape, wider lattice.
    // One map-side-combined shuffle on a 3-value key.
    Q("q_regression_stats",
      """WITH x AS (SELECT l_returnflag,
        |                  CAST(l_quantity AS BIGINT) AS q,
        |                  CAST(round(l_extendedprice) AS BIGINT) AS p
        |           FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |             CAST(sum(q) AS BIGINT) AS sx, CAST(sum(p) AS BIGINT) AS sy,
        |             CAST(sum(q * q) AS BIGINT) AS sxx,
        |             CAST(sum(p * p) AS BIGINT) AS syy,
        |             CAST(sum(q * p) AS BIGINT) AS sxy
        |      FROM x GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS slope,
        |  ((CAST(sy AS DOUBLE)
        |     - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS intercept,
        |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS corr
        |FROM s ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val q = col("l_quantity").cast("long")
      val p = round(col("l_extendedprice")).cast("long")
      val agg = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), q.as("q"), p.as("p"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("q").as("sx"), sum("p").as("sy"),
          sum(col("q") * col("q")).as("sxx"),
          sum(col("p") * col("p")).as("syy"),
          sum(col("q") * col("p")).as("sxy"))
      val nD  = col("n").cast("double")
      val sxD = col("sx").cast("double");  val syD  = col("sy").cast("double")
      val sxxD = col("sxx").cast("double"); val syyD = col("syy").cast("double")
      val sxyD = col("sxy").cast("double")
      val slope = (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD)
      agg.select(col("l_returnflag"), col("n"),
        slope.as("slope"),
        ((syD - slope * sxD) / nD).as("intercept"),
        ((nD * sxyD - sxD * syD) /
          (sqrt(nD * sxxD - sxD * sxD) * sqrt(nD * syyD - syD * syD))).as("corr"))
        .orderBy("l_returnflag")
    },

    // Distribution-position window functions: ntile quartiles,
    // percent_rank, cume_dist — the analytics trio q_window_rank_orders
    // (row_number) doesn't cover. percent_rank/cume_dist are integer-rank
    // ratios, so the doubles are bit-identical cross-engine. Per-status
    // partitions: skew posture is the documented window story.
    Q("q_window_ntile",
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
    },

    // Frame-edge window functions: first/last/nth order per customer over
    // the full partition frame — the value-extraction trio
    // (first_value/last_value/nth_value) that rank/ntile queries don't
    // cover. The frame is pinned to the WHOLE partition (unbounded both
    // ways): last_value over the default running frame is the classic
    // silent-wrong-answer, so the explicit frame is the point of the test.
    Q("q_window_first_last",
      """SELECT o_custkey, o_orderkey,
        |  CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_ok,
        |  CAST(last_value(o_orderkey) OVER w AS BIGINT) AS last_ok,
        |  CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Bitwise aggregates over the per-type user-id sets — set-membership
    // masks computed distributively (AND/OR/XOR are associative +
    // commutative → full map-side combine, shuffle carries one long per
    // group per mask).
    Q("q_bitwise_agg",
      """SELECT event_type, count(*) AS n,
        |       CAST(bit_and(user_id) AS BIGINT) AS mask_and,
        |       CAST(bit_or(user_id)  AS BIGINT) AS mask_or,
        |       CAST(bit_xor(user_id) AS BIGINT) AS mask_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            expr("bit_and(user_id)").as("mask_and"),
            expr("bit_or(user_id)").as("mask_or"),
            expr("bit_xor(user_id)").as("mask_xor"))
          .orderBy("event_type")
    },

    // Day-over-day distribution drift of the event-type mix — the data-
    // quality monitor a production ingest runs continuously (a spike in
    // KL(today ‖ yesterday) means the upstream mix shifted: a source went
    // down, a bot flood arrived). KL over Laplace-smoothed per-day type
    // distributions. Cross-engine exactness: per-(day,type) ln() of an
    // exactly-computed double ratio snaps to integer micro-nats; the KL
    // numerator Σ (n+1)·Δlp is an exact integer sum, and the final
    // normalization is ONE IEEE division by the day's (N + T). Scale
    // shape: one groupBy(day,type) over the stream (map-side combined),
    // then all arithmetic on the day×type grid — bounded by taxonomy, not
    // data; the previous-day alignment is a grid-sized self-join.
    Q("q_drift_daily",
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM c),
        |types AS (SELECT DISTINCT event_type FROM c),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM types),
        |fl AS (
        |  SELECT days.d, types.event_type,
        |         coalesce(c.n, 0) AS n0
        |  FROM days CROSS JOIN types
        |  LEFT JOIN c ON c.d = days.d AND c.event_type = types.event_type),
        |tot AS (SELECT d, CAST(sum(n0) AS BIGINT) AS nd FROM fl GROUP BY d),
        |lp AS (
        |  SELECT f.d, f.event_type, f.n0, tot.nd, tt.t,
        |         CAST(round(ln(CAST(f.n0 + 1 AS DOUBLE) / (tot.nd + tt.t))
        |              * 1000000) AS BIGINT) AS lp_micro
        |  FROM fl f JOIN tot ON tot.d = f.d CROSS JOIN tt)
        |SELECT a.d,
        |       CAST(min(a.nd) AS BIGINT) AS n_events,
        |       CAST(sum((a.n0 + 1) * (a.lp_micro - b.lp_micro)) AS BIGINT)
        |         AS kl_scaled,
        |       (CAST(sum((a.n0 + 1) * (a.lp_micro - b.lp_micro)) AS BIGINT)
        |          / CAST(min(a.nd + a.t) AS DOUBLE)) AS kl_micro
        |FROM lp a JOIN lp b
        |  ON b.event_type = a.event_type AND b.d = a.d - INTERVAL 1 DAY
        |GROUP BY a.d ORDER BY a.d""".stripMargin) { (s, dir) =>
      driftFromCounts(Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n")))
    },

    // First-order Markov transition model of per-user event sequences:
    // lag(event_type) over each user's (ts, event_id)-ordered stream →
    // transition counts → row-conditional log-probabilities in snapped
    // micro-nats (the q_drift_daily arithmetic on the taxonomy² grid).
    // The behavioral-model complement of q_user_paths (which surfaces
    // top literal paths): the transition matrix is the generative
    // summary, |types|² rows whatever the event volume. One per-user
    // window pass (partitioned — the sessionize class) + one groupBy on
    // the pair; both engines walk identical integer counts, and the only
    // ln() snaps on the bounded transition frame.
    Q("q_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT prev, event_type AS cur, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT prev, CAST(sum(n) AS BIGINT) AS nr FROM c GROUP BY 1)
        |SELECT c.prev, c.cur, c.n, r.nr,
        |       CAST(round(ln(CAST(c.n AS DOUBLE) / r.nr) * 1000000)
        |            AS BIGINT) AS lp_micro
        |FROM c JOIN r USING (prev)
        |ORDER BY c.prev, c.cur""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val seq = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag("event_type", 1).over(w).as("prev"))
      val c = seq.filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
      val r = c.groupBy("prev").agg(sum("n").as("nr"))
      c.join(r, "prev")
        .select(col("prev"), col("cur"), col("n"), col("nr"),
          round(log(col("n").cast("double") / col("nr")) * 1000000)
            .cast("long").as("lp_micro"))
        .orderBy("prev", "cur")
    },

    // Integer EWMA of daily event value, per event type: the recurrence
    //   ewma_t = (3·ewma_{t−1} + v_t) div 4        (α = 1/4, trunc-div)
    // walked in EXACT integer cents, so both engines reproduce the whole
    // trajectory cell-for-cell — the smoothed-baseline signal behind
    // drift/anomaly monitors. A trunc-div recurrence has no closed form,
    // so it folds SEQUENTIALLY — but only over the (type × days) grid:
    // the corpus reduces to daily cents with one groupBy, then each
    // type's ≤30-day series folds inside one task via a prefix
    // aggregate() per day (O(days²) on the bounded grid, nothing
    // corpus-sized). The 100 TB path keeps the grid as the maintained
    // state (Streams.dailyCentsFold) and re-folds only the tail.
    Q("q_ewma_daily",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |srt AS (
        |  SELECT event_type,
        |         list(d ORDER BY d) AS ds,
        |         list(cents ORDER BY d) AS vs
        |  FROM daily GROUP BY event_type),
        |tr AS (
        |  SELECT event_type, ds,
        |         [list_reduce(vs[1:i], (a, b) -> (3 * a + b) // 4)
        |          for i in range(1, len(vs) + 1)] AS es,
        |         vs
        |  FROM srt)
        |SELECT event_type, u.d AS d, u.cents AS cents, u.ewma AS ewma
        |FROM (SELECT event_type,
        |        unnest([struct_pack(d := ds[i], cents := vs[i], ewma := es[i])
        |                for i in range(1, len(ds) + 1)]) AS u
        |      FROM tr)
        |ORDER BY event_type, d""".stripMargin) { (s, dir) =>
      ewmaFromDaily(Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(sum(cents(col("value"))).as("cents")))
        .orderBy("event_type", "d")
    },

    // Cumulative distinct users per day — the REWRITE that makes "count
    // distinct over an unbounded window" scale: the naive form re-distincts
    // a growing set per day (Θ(days·users), a non-partitioned window over
    // the key stream); the first-touch form is one groupBy(user) min(day),
    // one day-keyed count, and a cumsum over the ≤`retention`-row day
    // series — the corpus never moves twice. The day-window cumsum IS
    // partitioned in spirit (single bounded series); its input is the
    // day frame, not events. Exact integers throughout.
    Q("q_cum_distinct_users",
      """WITH ft AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
        |nd AS (SELECT d0 AS d, CAST(count(*) AS BIGINT) AS n_new FROM ft GROUP BY 1),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
        |SELECT days.d, coalesce(nd.n_new, 0) AS n_new,
        |       CAST(sum(coalesce(nd.n_new, 0)) OVER (ORDER BY days.d)
        |            AS BIGINT) AS cum_users
        |FROM days LEFT JOIN nd ON nd.d = days.d
        |ORDER BY days.d""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val ft = ev.groupBy("user_id").agg(min(col("ts").cast("date")).as("d0"))
      val nd = ft.groupBy(col("d0").as("d")).agg(count(lit(1)).as("n_new"))
      val days = ev.select(col("ts").cast("date").as("d")).distinct()
      // the cumsum runs over the bounded DAY series (≤ retention rows):
      // a ≤-join + groupBy on the two tiny day frames — O(days²) of GRID
      // rows, never a corpus shuffle, and no global window (the lock the
      // optimizer would void by eliding a constant partition key). The
      // hinted side is the day-keyed new-user count frame — bounded by
      // retention (PlanShapeSpec allowlist).
      days.join(broadcast(nd.select(col("d").as("xd"), col("n_new"))),
          col("xd") <= col("d"), "left")
        .groupBy("d")
        .agg(coalesce(sum(when(col("xd") === col("d"), col("n_new"))), lit(0L))
          .as("n_new"),
          coalesce(sum("n_new"), lit(0L)).as("cum_users"))
        .orderBy("d")
    },

    // CUSUM changepoint trajectories (Page 1954) over the daily event
    // rate: one-sided cumulative sums S⁺ (rate shifted UP) and S⁻ (rate
    // shifted DOWN) with a 5% slack band around the series mean, flagged
    // when either exceeds h = mean/2. The recurrence
    // S_d = max(0, S_{d-1} + (c_d − k)) is NOT computed as a scan:
    // S_d = P_d − min(0, min_{j≤d} P_j) on prefix sums P, so the whole
    // trajectory is two ≤-joins over the BOUNDED day series (the
    // q_cum_distinct_users rewrite — the corpus shuffles once into daily
    // counts; everything after runs on ≤retention-row frames, exact
    // integers throughout, no global window). The shipped series is
    // stationary, so the flags stay false here; AdvancedSpec plants a
    // mean-shifted series and asserts S⁺ crosses h within days of the
    // break while the pre-break prefix stays quiet.
    Q("q_cusum_changepoint",
      """WITH dc AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(sum(c) // count(*) AS BIGINT) AS mean FROM dc),
        |p AS (
        |  SELECT d, c,
        |         sum(c) OVER (ORDER BY d)
        |           - row_number() OVER (ORDER BY d)
        |             * (SELECT mean + mean // 20 FROM st) AS pu,
        |         row_number() OVER (ORDER BY d)
        |             * (SELECT mean - mean // 20 FROM st)
        |           - sum(c) OVER (ORDER BY d) AS pd
        |  FROM dc),
        |r AS (
        |  SELECT d, c, pu, pd,
        |         min(pu) OVER (ORDER BY d) AS rmu,
        |         min(pd) OVER (ORDER BY d) AS rmd
        |  FROM p)
        |SELECT d, c,
        |       CAST(pu - least(0, rmu) AS BIGINT) AS s_up,
        |       CAST(pd - least(0, rmd) AS BIGINT) AS s_dn,
        |       (pu - least(0, rmu)) > (SELECT mean // 2 FROM st) AS flag_up,
        |       (pd - least(0, rmd)) > (SELECT mean // 2 FROM st) AS flag_dn
        |FROM r ORDER BY d""".stripMargin) { (s, dir) =>
      cusumFrom(Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("d")).agg(count(lit(1)).as("c")))
        .orderBy("d")
    },

    // Robust outlier detection: median / MAD (median absolute deviation)
    // per event type, the heavy-tail-safe alternative to q_anomaly_zscore
    // (one wild value moves a mean+stddev gate; it cannot move these
    // medians). Exactness trick: medians of integers are k or k+0.5, so
    // BOTH engines carry 2·median as an exact integer (med2, mad2) and
    // the 3σ-equivalent gate |x−med| > 3·1.4826·MAD is decided by the
    // integer cross-multiplication d2·20000 > mad2·44478 — no float
    // compare, no truncation hazard. Exact medians need a per-group sort
    // at scale (the percentile aggregate); groups here are the bounded
    // taxonomy, and the gate itself composes as a narrow filter.
    Q("q_mad_outliers",
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |med AS (SELECT event_type, CAST(2 * median(c) AS BIGINT) AS med2
        |        FROM v GROUP BY 1),
        |dev AS (SELECT v.event_type, abs(2 * v.c - med.med2) AS d2
        |        FROM v JOIN med USING (event_type)),
        |mad AS (SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad2
        |        FROM dev GROUP BY 1)
        |SELECT med.event_type, med.med2, mad.mad2,
        |       CAST((SELECT count(*) FROM v JOIN med m2 USING (event_type)
        |             WHERE v.event_type = med.event_type
        |               AND abs(2 * v.c - m2.med2) * 20000 > mad.mad2 * 44478)
        |            AS BIGINT) AS n_outliers
        |FROM med JOIN mad USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val v = Tables.events(s, dir)
        .select(col("event_type"), cents(col("value")).as("c"))
      val med = v.groupBy("event_type")
        .agg((expr("percentile(c, 0.5)") * 2).cast("long").as("med2"))
      val dev = v.join(med, "event_type")
        .select(col("event_type"), abs(col("c") * 2 - col("med2")).as("d2"))
      val mad = dev.groupBy("event_type")
        .agg((expr("percentile(d2, 0.5)") * 2).cast("long").as("mad2"))
      val gate = med.join(mad, "event_type")
      v.join(gate, "event_type")
        .groupBy(col("event_type"))
        .agg(first("med2").as("med2"), first("mad2").as("mad2"),
          sum(when(abs(col("c") * 2 - col("med2")) * 20000
            > col("mad2") * 44478, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }
  )
}
