package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.exprs.dot_ff

/** Remaining SURVEY §2.2 operator categories: as-of join, range (non-equi)
  * join, CUBE, lag/lead deltas, array higher-order functions, approximate
  * aggregates (HLL / quantile sketch).
  */
object Extras {

  import Relational.cents
  private def usOf(c: Column): Column  = unix_micros(c.cast("timestamp"))

  val queries: Seq[Q] = Seq(

    // As-of join, composed as a conditional window aggregate (SURVEY §2.2
    // joins row): for every event, the latest STRICTLY-EARLIER purchase by
    // the same user. No join at all — the classic union+window as-of trick
    // degenerates to one window because both sides share the events scan.
    Q("q_asof_last_purchase",
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |       max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |         OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_us
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val us = usOf(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"), us.as("us"),
        max(when(col("event_type") === "purchase", us)).over(w).as("last_purchase_us"))
        .orderBy("event_id")
    },

    // Range join: non-equi condition against a small literal dimension —
    // Spark broadcasts the dim and evaluates the band predicate in-stage.
    Q("q_range_join_buckets",
      """WITH dim(label, lo, hi) AS (VALUES
        |  ('tiny', 0.0, 50.0), ('small', 50.0, 100.0),
        |  ('mid', 100.0, 200.0), ('big', 200.0, 1000.0))
        |SELECT label, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events JOIN dim ON value >= lo AND value < hi
        |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dim = Seq(("tiny", 0.0, 50.0), ("small", 50.0, 100.0),
        ("mid", 100.0, 200.0), ("big", 200.0, 1000.0)).toDF("label", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(dim), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("label")
    },

    // Interval self-join: per event, how many same-user events occurred in
    // the preceding 5 minutes — the batch oracle twin of the streaming
    // stream-stream interval join (Streams.intervalJoin; same key + time
    // bound, state pruned by watermark there). Plans as one equi-shuffle on
    // user_id with the time range as residual — the standard interval-join
    // shape. Parallelism tracks user cardinality (see SCALING.md's window-
    // skew posture); for low-key corpora the scale rewrite is banding:
    // join on (user_id, floor(us / 5min)) ∪ (user_id, band+1), which
    // restores key cardinality at ≤2× join fan.
    Q("q_interval_join_events",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT l.event_id AS l_id, CAST(count(r.event_id) AS BIGINT) AS n_recent
        |FROM e l LEFT JOIN e r
        |  ON l.user_id = r.user_id AND r.us >= l.us - 300000000 AND r.us < l.us
        |GROUP BY l.event_id ORDER BY l_id""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir)
      val l = base.select(col("event_id").as("l_id"), col("user_id").as("l_user"),
        usOf(col("ts")).as("l_us"))
      val r = base.select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        usOf(col("ts")).as("r_us"))
      l.join(r, col("l_user") === col("r_user") &&
          col("r_us") >= col("l_us") - 300000000L && col("r_us") < col("l_us"), "left")
        .groupBy("l_id").agg(count(col("r_id")).as("n_recent"))
        .orderBy("l_id")
    },

    // Per-group argmax (mode): each user's most frequent event type,
    // deterministic tie-break (higher count, then lexicographic type).
    // Window partitioned by user — parallelism scales with users.
    Q("q_top_event_per_user",
      """SELECT user_id, event_type, n FROM (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY user_id, event_type
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val counts = Tables.events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id")
    },

    // Rolling 7-day average of daily event counts WITHOUT a window: the
    // daily aggregate (one row per day) joins its own trailing 6 days by
    // a range condition — a global RANGE-frame window over the daily
    // frame would funnel it through one task (the forbidden plan shape);
    // the self-join keys shuffle by day and fan ≤7×, scaling with the
    // calendar. Oracle uses the naive window form — hash equality proves
    // the rewrite.
    Q("q_rolling_7day_avg",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY day
        |)
        |SELECT day, n,
        |       round(avg(n) OVER (ORDER BY day
        |         RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW), 6)
        |         AS avg7
        |FROM daily ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      val trail = daily.select(col("day").as("d2"), col("n").as("n2"))
      daily.join(trail,
          col("d2") <= col("day") && col("d2") >= date_sub(col("day"), 6))
        .groupBy("day")
        .agg(max(when(col("d2") === col("day"), col("n"))).as("n"),
          round(avg("n2"), 6).as("avg7"))
        .select("day", "n", "avg7")
        .orderBy("day")
    },

    // Ordered funnel (view → click → purchase) per user: each stage's
    // timestamp is the earliest event STRICTLY AFTER the previous stage —
    // the sequential-conversion analysis engines bolt on as a special
    // operator, here as three user-keyed min-aggregations chained by
    // hash-partitioned joins on user_id (AQE may broadcast at runtime
    // while a side measures small; nothing is hint-pinned).
    Q("q_funnel_stages",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
        |  GROUP BY e.user_id
        |)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), usOf(col("ts")).as("us"))
      val u = ev.select("user_id").distinct()
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t_view"))
      // v/c/p are per-USER aggregates — Θ(users) rows, data-proportional.
      // No broadcast hint: every join keys on user_id, so the exchanges are
      // co-partitioned and eligible for reuse, and AQE still picks broadcast
      // at runtime while a side measures small, without pinning an OOM at
      // billion-user scale.
      val c = ev.join(v, "user_id")
        .filter(col("event_type") === "click" && col("us") > col("t_view"))
        .groupBy("user_id").agg(min("us").as("t_click"))
      val p = ev.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("us") > col("t_click"))
        .groupBy("user_id").agg(min("us").as("t_purchase"))
      u.join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .orderBy("user_id")
    },

    // Cohort retention over orders: cohort = month of a customer's first
    // order; cell (cohort, month offset) counts distinct returning
    // customers. Two user-keyed aggregations + one join — the output
    // matrix is Θ(months²) rows regardless of order volume. The first-order
    // frame f is Θ(customers), so it gets no broadcast hint: both sides hash
    // on o_custkey (f is already partitioned that way by its groupBy) and AQE
    // may still broadcast while customers are genuinely few.
    Q("q_cohort_retention",
      """WITH f AS (
        |  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
        |  FROM orders GROUP BY o_custkey
        |), x AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate) AS m FROM orders
        |)
        |SELECT cohort, CAST(datediff('month', cohort, m) AS INTEGER) AS offset_m,
        |       count(DISTINCT x.o_custkey) AS n_custs
        |FROM x JOIN f ON x.o_custkey = f.o_custkey
        |GROUP BY cohort, offset_m ORDER BY cohort, offset_m""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("m"))
      val f = o.groupBy("o_custkey").agg(min("m").as("cohort"))
      o.join(f, "o_custkey")
        .select(col("o_custkey"), col("cohort"),
          months_between(col("m"), col("cohort")).cast("int").as("offset_m"))
        .groupBy("cohort", "offset_m")
        .agg(countDistinct("o_custkey").as("n_custs"))
        .orderBy("cohort", "offset_m")
    },

    // The BANDED interval join: identical semantics (and the IDENTICAL
    // oracle SQL) as q_interval_join_events, but the join key is
    // (user_id, 5-minute band) instead of bare user_id — any qualifying
    // pair spans at most one band boundary, so l joins r's band and
    // band+1 (disjoint → union, no dedup). This restores join-key
    // cardinality when the entity key alone is low-cardinality: parallelism
    // becomes #users × #bands instead of #users, at ≤2× join fan — the
    // scale rewrite the plain version's comment names, shipped and proven
    // hash-identical.
    Q("q_interval_join_banded",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT l.event_id AS l_id, CAST(count(r.event_id) AS BIGINT) AS n_recent
        |FROM e l LEFT JOIN e r
        |  ON l.user_id = r.user_id AND r.us >= l.us - 300000000 AND r.us < l.us
        |GROUP BY l.event_id ORDER BY l_id""".stripMargin) { (s, dir) =>
      val W = 300000000L // 5 minutes in µs
      val base = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), usOf(col("ts")).as("us"))
      val l = base.select(col("event_id").as("l_id"), col("user_id"),
        col("us").as("l_us"), floor(col("us") / W).as("band"))
      val r = base.select(col("event_id").as("r_id"), col("user_id"),
        col("us").as("r_us"), floor(col("us") / W).as("band"))
      val rNext = r.withColumn("band", col("band") + 1)
      val inRange = col("r_us") >= col("l_us") - W && col("r_us") < col("l_us")
      val hits = l.join(r, Seq("user_id", "band")).filter(inRange)
        .union(l.join(rNext, Seq("user_id", "band")).filter(inRange))
        .groupBy("l_id").agg(count(lit(1)).as("n"))
      base.select(col("event_id").as("l_id"))
        .join(hits, Seq("l_id"), "left")
        .select(col("l_id"), coalesce(col("n"), lit(0L)).as("n_recent"))
        .orderBy("l_id")
    },

    // CUBE over two dimensions of the orders⋈customer star.
    Q("q_cube_sales",
      """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
        |       coalesce(c_mktsegment, 'ALL') AS seg, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (o_orderpriority, c_mktsegment)
        |ORDER BY pri, seg""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .cube(col("o_orderpriority"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          col("n"), col("total_cents"))
        .orderBy("pri", "seg")
    },

    // lag/lead deltas per user (exact integer cents).
    Q("q_lag_lead_delta",
      """WITH x AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events)
        |SELECT event_id,
        |       vc - lag(vc) OVER (PARTITION BY user_id ORDER BY us, event_id) AS delta_prev,
        |       lead(vc) OVER (PARTITION BY user_id ORDER BY us, event_id) - vc AS delta_next
        |FROM x ORDER BY event_id""".stripMargin) { (s, dir) =>
      val us = usOf(col("ts"))
      val vc = cents(col("value"))
      val w  = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
      Tables.events(s, dir).select(
        col("event_id"),
        (vc - lag(vc, 1).over(w)).as("delta_prev"),
        (lead(vc, 1).over(w) - vc).as("delta_next"))
        .orderBy("event_id")
    },

    // Array higher-order functions over the embeddings vectors.
    Q("q_array_funcs",
      """SELECT vec_id,
        |       CAST(len(embedding) AS INTEGER) AS dim,
        |       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |       round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS sq_norm,
        |       CAST(list_max(embedding) AS DOUBLE) AS mx
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        round(dot_ff(col("embedding"), col("embedding")), 6).as("sq_norm"),
        array_max(col("embedding")).cast("double").as("mx"))
        .orderBy("vec_id")
    },

    // Native as-of join — the custom LogicalPlan/Strategy/SparkPlan operator
    // (graft.plans.AsOfJoin): for each event, the latest order of customer
    // user_id at or before the event time. Order timestamps are offset by
    // o_orderkey µs so the as-of target is unique per (custkey, ts) —
    // otherwise ties would be engine-arbitrary. Oracle: DuckDB native
    // ASOF LEFT JOIN.
    Q("q_asof_join_native",
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |     r AS (SELECT o_custkey, o_orderkey,
        |                  epoch_us(o_orderdate) + o_orderkey AS ous FROM orders)
        |SELECT event_id, us, o_orderkey, ous
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.us >= r.ous
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val l = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), usOf(col("ts")).as("us"))
      val r = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          (unix_micros(col("o_orderdate").cast("timestamp")) + col("o_orderkey")).as("ous"))
      graft.plans.AsOfJoin(l, r, l("user_id"), r("o_custkey"), l("us"), r("ous"))
        .select(col("event_id"), col("us"), col("o_orderkey"), col("ous"))
        .orderBy("event_id")
    },

    // Correlated scalar subquery → Catalyst decorrelates it into a join
    // (the one optimizer rewrite nothing else in the inventory exercises).
    Q("q_correlated_subquery",
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey
        |    AND o_totalprice > 200000) AS n_big
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM orders_v WHERE o_custkey = c_custkey
          |    AND o_totalprice > 200000) AS n_big
          |FROM customer_v ORDER BY c_custkey""".stripMargin)
    },

    // Bag-semantics set ops (ALL variants — the distinct forms are
    // q_setops_keys).
    Q("q_setops_all",
      """SELECT 'i' AS tag, k FROM (
        |  SELECT o_custkey AS k FROM orders INTERSECT ALL SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'e' AS tag, k FROM (
        |  SELECT o_custkey AS k FROM orders EXCEPT ALL SELECT c_custkey FROM customer)
        |ORDER BY tag, k""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_custkey").as("k"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("k"))
      val i = o.intersectAll(c).select(lit("i").as("tag"), col("k"))
      val e = o.exceptAll(c).select(lit("e").as("tag"), col("k"))
      i.union(e).orderBy("tag", "k")
    },

    // RANGE window frame: for each order, total cents of all SAME-customer
    // orders within ±30 days of it (value-based frame, not row-based).
    Q("q_window_range_frame",
      """WITH x AS (SELECT o_custkey, o_orderkey,
        |                  epoch_us(o_orderdate) AS us,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS vc
        |           FROM orders)
        |SELECT o_custkey, o_orderkey,
        |       CAST(sum(vc) OVER (PARTITION BY o_custkey ORDER BY us
        |         RANGE BETWEEN 2592000000000 PRECEDING AND 2592000000000 FOLLOWING)
        |         AS BIGINT) AS nearby_cents
        |FROM x ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val us = unix_micros(col("o_orderdate").cast("timestamp"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(us)
        .rangeBetween(-2592000000000L, 2592000000000L)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice"))).over(w).as("nearby_cents"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Approximate aggregates: HLL distinct + quantile sketch. Sketch
    // internals are engine-specific → rows-only check; QueriesSpec bounds
    // them against exact values.
    Q.noOracle("q_approx_stats") { (s, dir) =>
      Tables.orders(s, dir).agg(
        approx_count_distinct(col("o_custkey")).as("approx_custs"),
        countDistinct(col("o_custkey")).as("exact_custs"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_median"),
        expr("percentile(o_totalprice, 0.5)").as("exact_median"))
    },

    // Point-in-time (SCD2-style as-of) dimension read: treat each order as
    // a version of its customer's state, close each version with lead()
    // (valid_from inclusive, valid_to exclusive, NULL = current), then
    // resolve the dimension AS OF a fixed timestamp — the query-side twin
    // of the scd2Merge sink (ops/Sinks.scala): one per-key window, then a
    // narrow per-row interval predicate; at scale the version table is
    // partition-pruned on valid_from before the window runs.
    Q("q_scd2_asof",
      """WITH v AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         epoch_us(o_orderdate) + o_orderkey AS vf,
        |         lead(epoch_us(o_orderdate) + o_orderkey) OVER (
        |           PARTITION BY o_custkey
        |           ORDER BY epoch_us(o_orderdate) + o_orderkey) AS vt
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |       CAST(vf AS BIGINT) AS valid_from_us,
        |       (vt IS NULL) AS was_latest
        |FROM v
        |WHERE vf <= 897868800000000 AND (vt IS NULL OR vt > 897868800000000)
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val vf = unix_micros(col("o_orderdate").cast("timestamp")) + col("o_orderkey")
      val w  = Window.partitionBy(col("o_custkey")).orderBy(vf)
      val asOf = lit(897868800000000L) // 1998-06-15T00:00:00Z, mid-corpus
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          vf.as("vf"), lead(vf, 1).over(w).as("vt"))
        .filter(col("vf") <= asOf && (col("vt").isNull || col("vt") > asOf))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("vf").as("valid_from_us"), col("vt").isNull.as("was_latest"))
        .orderBy("o_custkey")
    },

    // OHLC time bars: per-hour open/high/low/close of the event value —
    // the argmin/argmax aggregate surface (min_by/max_by; DuckDB
    // arg_min/arg_max). open/close pick the value at the min/max event_id
    // in the bar (event_id is the unique arrival key, so the choice is
    // deterministic in both engines); high/low are plain extremes. One
    // map-side-combined shuffle on the hour key — the classic
    // downsampling shape for telemetry/market data at any scale.
    Q("q_ohlc_bars",
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*) AS n,
        |       CAST(arg_min(CAST(round(value * 100) AS BIGINT), event_id) AS BIGINT)
        |         AS open_c,
        |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS high_c,
        |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS low_c,
        |       CAST(arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS BIGINT)
        |         AS close_c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val c = cents(col("value"))
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          min_by(c, col("event_id")).as("open_c"),
          max(c).as("high_c"), min(c).as("low_c"),
          max_by(c, col("event_id")).as("close_c"))
        .select(unix_micros(col("window.start")).as("hour_us"), col("n"),
          col("open_c"), col("high_c"), col("low_c"), col("close_c"))
        .orderBy("hour_us")
    },

    // Ordered event-path per user (clickstream journey extraction). Spark
    // collect_list carries no order guarantee, so the struct list is
    // sorted AFTER collection — (ts, event_id, event_type) structs sort
    // field-major, giving the same total order as the oracle's
    // `list(... ORDER BY ts, event_id)`. State per key is bounded by
    // events-per-user (the sessionize skew posture, SCALING.md "Window
    // skew"); the first-8 slice caps the rendered path, not the state —
    // at 100 TB pair this with a per-key event cap upstream.
    Q("q_user_paths",
      """SELECT user_id, count(*) AS n_events,
        |       array_to_string((list(event_type ORDER BY ts, event_id))[1:8], '>')
        |         AS path
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          concat_ws(">",
            transform(
              slice(array_sort(collect_list(struct(col("ts"), col("event_id"),
                col("event_type")))), 1, 8),
              x => x.getField("event_type"))).as("path"))
        .orderBy("user_id")
    },

    // Per-user z-score anomaly counts. Two phases, both keyed on user_id:
    // a whole-partition window attaches the exact integer-cents moments,
    // then the per-row z-score folds into a per-user anomaly count — one
    // shuffle total (window and groupBy share the user_id partitioning,
    // so Catalyst reuses the exchange). Degenerate users (n=1 → sd NULL
    // via non-ANSI /0) count zero anomalies in both engines.
    Q("q_anomaly_zscore",
      """WITH x AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c
        |           FROM events),
        |y AS (SELECT user_id, c,
        |             count(*)   OVER (PARTITION BY user_id) AS n,
        |             sum(c)     OVER (PARTITION BY user_id) AS sx,
        |             sum(c * c) OVER (PARTITION BY user_id) AS sxx
        |      FROM x),
        |z AS (SELECT user_id, n,
        |             (CAST(c AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |               / sqrt((CAST(sxx AS DOUBLE)
        |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |                          / CAST(n AS DOUBLE))
        |                      / (CAST(n AS DOUBLE) - 1.0)) AS z
        |      FROM y)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN abs(z) > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_anomalies
        |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w   = Window.partitionBy("user_id")
      val c   = cents(col("value"))
      val n   = count(lit(1)).over(w)
      val sx  = sum(c).over(w)
      val sxx = sum(c * c).over(w)
      val z = (c.cast("double") - sx.cast("double") / n.cast("double")) /
        sqrt((sxx.cast("double") -
          sx.cast("double") * sx.cast("double") / n.cast("double")) /
          (n.cast("double") - lit(1.0)))
      Tables.events(s, dir)
        .select(col("user_id"), n.as("n"), z.as("z"))
        .groupBy("user_id")
        .agg(max("n").as("n_events"),
          sum(when(abs(col("z")) > 2.5, 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy("user_id")
    }
  )
}
