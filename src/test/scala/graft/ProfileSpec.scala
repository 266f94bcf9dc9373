package graft

import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {

  test("profile: key columns are unique, stats are internally consistent") {
    import spark.implicits._
    val rows = ops.Profile.queries.find(_.name == "q_profile_columns").get
      .build(spark, sfDir).collect()
    assert(rows.length === 11)
    val byCol = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byCol(("customer", "c_custkey")).getBoolean(7))
    assert(byCol(("orders", "o_orderkey")).getBoolean(7))
    rows.foreach { r =>
      val (n, nNull, nDistinct) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nNull >= 0 && nNull <= n)
      assert(nDistinct <= n - nNull, s"distinct > non-null in $r")
      assert(r.getString(5) <= r.getString(6) || r.getString(5).length
        != r.getString(6).length, s"min > max (same width) in $r")
    }
  }

  test("incremental profile: any batch partitioning merges to the identical profile") {
    // the oracle already proves merged(2 halves) == whole table; here the
    // associativity claim at k batches — 7 hash-dealt batches produce the
    // SAME profile, so ingest order/granularity can never change it
    val ev  = Tables.events(spark, sfDir)
    def profileWith(half: org.apache.spark.sql.Column) =
      ops.Profile.finalizeProfile(ops.Profile.mergeProfileStates(
        ops.Profile.incrementalStates(ev.withColumn("half", half))))
        .collect().map(_.toSeq).toSeq
    val two   = profileWith(col("event_id") % 2)
    val seven = profileWith(col("event_id") * 2654435761L % 7)
    val one   = profileWith(lit(0L))
    assert(two === seven && two === one, "profile depends on batching")
  }

  test("incremental profile: HLL distinct estimate lands near the exact count") {
    import spark.implicits._
    val rows = ops.Profile.queries.find(_.name == "q_profile_incremental").get
      .build(spark, sfDir).collect()
    val ev = Tables.events(spark, sfDir)
    val exact = Map(
      "event_type" -> ev.select("event_type").distinct().count(),
      "user_id"    -> ev.select("user_id").distinct().count(),
      "ts"         -> ev.select("ts").distinct().count(),
      "value"      -> ev.select(round(col("value") * 1000000).cast("long"))
        .distinct().count())
    rows.foreach { r =>
      val (cname, present, estScaled) =
        (r.getString(0), r.getLong(5), r.getLong(6))
      val est = ops.Sketches.HllEstC / estScaled.toDouble
      val e   = exact(cname)
      // raw-regime HLL at m=64: generous 2x envelope (small-range linear
      // counting applies below 2.5m — recompute it the estimator's way)
      val adj = if (est <= 2.5 * 64 && present < 64)
        64.0 * math.log(64.0 / (64 - present)) else est
      assert(adj > e / 2.0 && adj < e * 2.0,
        s"$cname: est $adj vs exact $e (present=$present)")
    }
  }

  test("incremental profile's user_id distinct state equals the q_hll_estimate '*' row") {
    // both hash CAST(user_id AS STRING) without the mix; with no NULL
    // user_id the per-column register matrix IS the sketch's global tier
    Seq(sfDir, "/root/testdata/sf0.01").foreach { dir =>
      val prof = SparkEntry.queries("q_profile_incremental")(spark, dir).collect()
        .find(_.getString(0) == "user_id").get
      val hll = SparkEntry.queries("q_hll_estimate")(spark, dir).collect()
        .find(_.getString(0) == "*").get
      assert(prof.getLong(2) === 0L, s"$dir: user_id has NULLs")
      assert((prof.getLong(5), prof.getLong(6)) === (hll.getLong(1), hll.getLong(2)),
        s"$dir: profile (present, est_scaled) vs sketch '*' row")
    }
  }

  test("profile drift: both statuses appear, and the gate is the exact 20% rule") {
    val rows = ops.Profile.queries.find(_.name == "q_profile_drift").get
      .build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // the 1:3 era split makes row counts drift at every scale; the
    // categorical arity, null counts, and user_id domain hold
    assert(rows(("ts", "n"))._3 && rows(("value", "n"))._3,
      "volume drift must be flagged")
    assert(!rows(("event_type", "n_distinct"))._3)
    assert(!rows(("ts", "n_null"))._3 && !rows(("user_id", "min_num"))._3)
    // every emitted verdict must equal the integer cross-multiplied rule
    rows.foreach { case ((c, st), (b, a, d)) =>
      assert(d === (math.abs(a - b) * 5 > math.max(math.abs(b), 1L)),
        s"gate mismatch on ($c, $st): before=$b after=$a drifted=$d")
    }
    // string-typed min/max rows are excluded by contract
    assert(!rows.contains(("event_type", "min_num")))
  }

  test("constraint checks on an EMPTY table report 0 violations, not NULL") {
    // cross-engine contract for empty ingest batches: Spark's sum() over
    // zero rows is NULL where DuckDB's count(*) FILTER is 0 — the
    // coalesce in Profile.vcount must pin both to pass/0
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val rows = ops.Profile.checksFor(empty, "empty_batch", Seq(
        "k_not_null" -> ops.Profile.vcount(col("k").isNull),
        "v_in_range" -> ops.Profile.vcount(col("v") < 0.0 || col("v") > 1.0)))
      .collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(!r.isNullAt(2), s"NULL n_violations on empty input: $r")
      assert(r.getLong(2) === 0L)
    }
  }

  test("constraint report exercises BOTH statuses on the fixture") {
    val rows = ops.Profile.queries.find(_.name == "q_constraint_report").get
      .build(spark, sfDir).collect()
      .map(r => r.getString(1) -> (r.getString(2), r.getLong(3))).toMap
    // the demonstration check fails by design (orders span several years)
    val (st, v) = rows("o_orderdate_within_1995")
    assert(st === "fail" && v > 0)
    // the integrity checks hold
    Seq("c_custkey_not_null", "c_custkey_unique", "o_orderkey_unique",
      "o_custkey_fk_customer", "l_quantity_range_1_50").foreach { c =>
      assert(rows(c) === ("pass", 0L), s"$c expected clean")
    }
  }
}
