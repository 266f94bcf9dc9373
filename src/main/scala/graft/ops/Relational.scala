package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Relational-core surface (SURVEY §2.3 block 2): joins, aggregations,
  * windows, set ops, scalar string/date/JSON functions — all stock Spark
  * built-ins so Catalyst keeps pushdown/pruning/codegen.
  *
  * Cross-engine float determinism: money columns are 2-decimal doubles, so
  * every SUM snaps each term to integer cents (`round(x*100) → BIGINT`)
  * BEFORE aggregating — integer sums are exact and order-independent in
  * both engines at any scale, unlike double sums whose partial-aggregation
  * order differs. Averages/ratios are then exact-integer divisions, which
  * produce bit-identical doubles. (SURVEY §7.4.)
  */
object Relational {

  /** Snap a 2-decimal double to exact integer cents — the one integer-cents
    * rule of every Column site in the engine.
    */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")
  private def centsSql(e: String): String = s"CAST(round(($e) * 100) AS BIGINT)"
  /** DuckDB sum(BIGINT) is HUGEINT — always cast back. */
  private def sumSql(e: String): String = s"CAST(sum($e) AS BIGINT)"

  val queries: Seq[Q] = Seq(

    // Sort + limit → Spark TakeOrderedAndProject (per-partition top-k, then
    // driver merge — no global sort shuffle).
    Q("q_topk_orders",
      """SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS d
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) {
      (s, dir) =>
        Tables.orders(s, dir)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
          .select(col("o_orderkey"), col("o_totalprice"),
            to_date(col("o_orderdate")).as("d"))
    },

    // SKYLINE / Pareto frontier (Börzsönyi et al. 2001, "The Skyline
    // Operator"): orders not dominated on (earlier date, higher total) —
    // A dominates B iff A.date ≤ B.date ∧ A.price ≥ B.price with one
    // strict. The naive form is an all-pairs NOT EXISTS (Θ(n²) — dead at
    // scale); in 2-D dominance factors through the DATE axis, so the
    // skyline is exactly "day-max rows whose price beats every earlier
    // day's max" — one corpus groupBy to the bounded day-max frame, a
    // prefix-max ≤-join on that frame (the cum_distinct_users class),
    // and one broadcast join back to the corpus. Same-day price ties:
    // neither order strictly dominates, both stay (mp = price keeps
    // every max-priced order of a record day).
    Q("q_skyline_orders",
      """WITH dmax AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, max(o_totalprice) AS mp
        |  FROM orders GROUP BY 1),
        |pm AS (
        |  SELECT a.d, a.mp, max(b.mp) AS pmax_lt
        |  FROM dmax a LEFT JOIN dmax b ON b.d < a.d
        |  GROUP BY a.d, a.mp)
        |SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d, o.o_totalprice
        |FROM orders o JOIN pm ON pm.d = CAST(o.o_orderdate AS DATE)
        |WHERE pm.mp = o.o_totalprice
        |  AND (pm.pmax_lt IS NULL OR pm.pmax_lt < o.o_totalprice)
        |ORDER BY d, o.o_orderkey""".stripMargin) { (s, dir) =>
      val dmax = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(max("o_totalprice").as("mp"))
      val b = dmax.select(col("d").as("xd"), col("mp").as("xmp"))
      val pm = dmax.join(broadcast(b), col("xd") < col("d"), "left")
        .groupBy("d", "mp").agg(max("xmp").as("pmax_lt"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"),
          col("o_totalprice"))
        .join(broadcast(pm), Seq("d"))
        .filter(col("mp") === col("o_totalprice") &&
          (col("pmax_lt").isNull || col("pmax_lt") < col("o_totalprice")))
        .select(col("o_orderkey"), col("d"), col("o_totalprice"))
        .orderBy("d", "o_orderkey")
    },

    // Hash equi-join, orders ⋈ customer.
    Q("q_join_orders_customer",
      """SELECT o_orderkey, c_name, o_totalprice, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"), col("c_acctbal"))
        .orderBy("o_orderkey")
    },

    // Star join with explicitly broadcast dimensions (nation: 25 rows,
    // region: 5 — broadcast regardless of fact-side scale).
    Q("q_join_broadcast_dims",
      s"""SELECT r_name, count(*) AS n_cust,
         |       ${sumSql(centsSql("c_acctbal"))} AS acctbal_cents
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"), sum(cents(col("c_acctbal"))).as("acctbal_cents"))
        .orderBy("r_name")
    },

    // left_semi (EXISTS) + left_anti (NOT EXISTS) in one tagged output.
    Q("q_semi_anti_customers",
      """SELECT c_custkey, 'has' AS tag FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'none' AS tag FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey, tag""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has").as("tag"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("none").as("tag"))
      semi.union(anti).orderBy("c_custkey", "tag")
    },

    // TPC-H-Q1-style grouped aggregation; partial (map-side) agg is
    // automatic; sums are exact integer cents (see header).
    Q("q_agg_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sumSql("CAST(l_quantity AS BIGINT)")} AS sum_qty,
         |  ${sumSql(centsSql("l_extendedprice"))} AS base_cents,
         |  ${sumSql("CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)")} AS disc_e4,
         |  ${sumSql("CAST(round(((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) * 1000000) AS BIGINT)")} AS charge_e6,
         |  (${sumSql("CAST(l_quantity AS BIGINT)")} / count(*)) AS avg_qty,
         |  count(*) AS n
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) <= to_date(lit("2000-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("base_cents"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long")).as("disc_e4"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")) * 1000000).cast("long")).as("charge_e6"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty", col("sum_qty") / col("n"))
        .select("l_returnflag", "l_linestatus", "sum_qty", "base_cents",
          "disc_e4", "charge_e6", "avg_qty", "n")
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ROLLUP hierarchy; subtotal NULLs normalized to 'ALL' for stable
    // cross-engine ordering (DuckDB defaults NULLS LAST, Spark FIRST).
    Q("q_rollup_sales",
      s"""SELECT coalesce(o_orderpriority, 'ALL') AS pri,
         |       coalesce(o_orderstatus, 'ALL') AS status,
         |       count(*) AS n, ${sumSql(centsSql("o_totalprice"))} AS total_cents
         |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
         |ORDER BY pri, status""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total_cents"))
        .orderBy("pri", "status")
    },

    // Top-3 orders per customer via row_number (window).
    Q("q_window_rank_orders",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // Running sum per customer (rows frame) — exact integer cents.
    Q("q_window_running_sum",
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(sum(${centsSql("o_totalprice")}) OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate, o_orderkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // UNION / INTERSECT / EXCEPT (distinct semantics) on key sets.
    Q("q_setops_keys",
      """SELECT 'e' AS tag, k FROM (SELECT c_custkey AS k FROM customer
        |  EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'i' AS tag, k FROM (SELECT c_custkey AS k FROM customer
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'u' AS tag, k FROM (SELECT c_custkey AS k FROM customer
        |  UNION SELECT o_custkey FROM orders)
        |ORDER BY tag, k""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir).select(col("c_custkey").as("k"))
      val o = Tables.orders(s, dir).select(col("o_custkey").as("k"))
      val e = c.except(o).select(lit("e").as("tag"), col("k"))
      val i = c.intersect(o).select(lit("i").as("tag"), col("k"))
      val u = c.union(o).distinct().select(lit("u").as("tag"), col("k"))
      e.union(i).union(u).orderBy("tag", "k")
    },

    // Scalar string functions.
    Q("q_string_funcs",
      """SELECT p_partkey, lower(p_name) AS lo, upper(p_brand) AS up,
        |       CAST(length(p_name) AS INTEGER) AS len,
        |       substr(p_type, 1, 3) AS t3,
        |       concat_ws('|', p_brand, p_type) AS cat,
        |       replace(p_name, ' ', '_') AS snake,
        |       reverse(p_name) AS rev,
        |       CAST(strpos(p_name, 'e') AS INTEGER) AS pos_e,
        |       CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_tok
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"), lower(col("p_name")).as("lo"), upper(col("p_brand")).as("up"),
        length(col("p_name")).as("len"), substring(col("p_type"), 1, 3).as("t3"),
        concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        reverse(col("p_name")).as("rev"),
        instr(col("p_name"), "e").as("pos_e"),
        size(split(col("p_name"), " ")).as("n_tok"))
        .orderBy("p_partkey")
    },

    // Date/time bucketing over the events stream table.
    Q("q_date_trunc_buckets",
      s"""SELECT epoch_us(date_trunc('month', ts)) AS month_us,
         |       CAST(ts AS DATE) AS d, CAST(hour(ts) AS INTEGER) AS h,
         |       count(*) AS n, ${sumSql(centsSql("value"))} AS value_cents
         |FROM events GROUP BY 1, 2, 3 ORDER BY d, h""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          unix_micros(date_trunc("month", col("ts"))).as("month_us"),
          to_date(col("ts")).as("d"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("d", "h")
    },

    // JSON extraction from events.props ({"k": <int>}).
    Q("q_json_props",
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        val k = get_json_object(col("props"), "$.k").cast("long")
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(k).as("sum_k"), max(k).as("max_k"))
          .orderBy("event_type")
    },

    // TPC-H Q3 shape: 3-way join, filter both sides, grouped revenue, top-k.
    Q("q_tpch_q3_shipping",
      """SELECT l_orderkey,
        |       CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |       CAST(o_orderdate AS DATE) AS odate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_e4 DESC, l_orderkey LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir)
          .filter(to_date(col("o_orderdate")) < to_date(lit("1998-03-15"))),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .filter(to_date(col("l_shipdate")) > to_date(lit("1998-03-15"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("revenue_e4"))
        .select(col("l_orderkey"), col("revenue_e4"),
          to_date(col("o_orderdate")).as("odate"), col("o_orderpriority"))
        .orderBy(col("revenue_e4").desc, col("l_orderkey")).limit(20)
    },

    // TPC-H Q5 shape: 5-way star join (two broadcast dims), per-nation
    // revenue.
    Q("q_tpch_q5_region",
      """SELECT n_name,
        |       CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("revenue_e4"))
        .orderBy("n_name")
    },

    // CASE WHEN bucketing + aggregation.
    Q("q_case_when_buckets",
      s"""SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
         |            WHEN o_totalprice < 300000 THEN 'mid'
         |            ELSE 'high' END AS bucket,
         |       count(*) AS n, ${sumSql(centsSql("o_totalprice"))} AS total_cents
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          when(col("o_totalprice") < 100000, "low")
            .when(col("o_totalprice") < 300000, "mid")
            .otherwise("high").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("bucket")
    }
  )
}
