package graft

import org.apache.spark.sql.functions._

/** HyperLogLog properties the cell-exact q_hll_registers oracle can't
  * express: estimate accuracy against the exact distinct count, max-merge
  * re-aggregability (shard registers → global registers), and
  * partitioning invariance.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def registers = ops.Sketches.hllRegisters(spark, sfDir)

  test("global estimate lands within the m=64 error envelope of exact distinct") {
    val regs = registers.filter(col("event_type") === "*")
      .select("register").as[Int].collect().toSeq
    val est = ops.Sketches.estimate(regs)
    val exact = Tables(spark, sfDir, "events")
      .select(countDistinct("user_id")).as[Long].head().toDouble
    // m=64 → ~13% standard error; gate at 3 sigma
    assert(math.abs(est - exact) / exact < 0.40,
      s"HLL estimate $est vs exact $exact drifted past the envelope")
  }

  test("per-type estimates track per-type exact distincts") {
    val exact = Tables(spark, sfDir, "events")
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    val byType = registers.filter(col("event_type") =!= "*")
      .as[(String, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSeq).toMap
    byType.foreach { case (t, regs) =>
      val est = ops.Sketches.estimate(regs)
      assert(math.abs(est - exact(t)) / exact(t) < 0.40,
        s"type $t: HLL $est vs exact ${exact(t)}")
    }
  }

  test("registers merge by MAX: sharded sketches re-aggregate to the global matrix") {
    // shard the stream by event parity, build per-shard registers with
    // the same bucket/rank split, then max-merge — must equal the
    // one-pass global registers exactly (the 100 TB re-aggregation path)
    val ev = Tables(spark, sfDir, "events")
      .select((col("event_id") % 2).as("shard"),
        graft.functions.exprs.poly_hash(col("user_id").cast("string")).as("h"))
    val m = ops.Sketches.M
    val ranked = ev.select(col("shard"), (col("h") % m).cast("int").as("bucket"),
      when(expr(s"h div $m") === 0L, lit(ops.Sketches.RankCap))
        .otherwise(lit(ops.Sketches.RankCap) -
          length(conv(expr(s"h div $m").cast("string"), 10, 2)))
        .cast("int").as("rank"))
    val sharded = ranked.groupBy("shard", "bucket").agg(max("rank").as("register"))
      .groupBy("bucket").agg(max("register").as("register"))
    val global = registers.filter(col("event_type") === "*")
      .select("bucket", "register")
    assert(sharded.except(global).count() === 0 &&
      global.except(sharded).count() === 0,
      "max-merged shard registers diverged from the global matrix")
  }

  test("register matrix is partitioning-invariant") {
    val a = registers.collect().toSeq
    val b = ops.Sketches.hllRegisters(spark, sfDir).repartition(7).collect().toSeq
    assert(a.toSet === b.toSet)
  }

  test("scaled-denominator estimates reproduce the register estimates and track exact") {
    val m = ops.Sketches.M
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    SparkEntry.queries("q_hll_estimate")(spark, sfDir).collect().foreach { r =>
      val (t, present, exact) = (r.getString(0), r.getLong(1), r.getLong(3).toDouble)
      val raw = alpha * m * m * math.pow(2.0, 57) / r.getLong(2)
      // the paper's small-range correction: below 2.5m with empty buckets,
      // linear counting on the zero count replaces the harmonic estimate
      val zeros = m - present
      val est2 = if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
                 else raw
      // the integer denominator is the oracle-checked part; this gates the
      // float estimator on top of it
      assert(est2 / exact > 0.5 && est2 / exact < 2.0,
        s"$t: estimate $est2 (raw $raw) vs exact $exact")
    }
  }

  test("7-day window registers dominate daily registers and track exact distincts") {
    import graft.functions.exprs.poly_hash
    val m = ops.Sketches.M
    val daily = Tables.events(spark, sfDir)
      .select(col("ts").cast("date").as("d"),
        poly_hash(col("user_id").cast("string")).as("h"))
      .select(col("d"), (col("h") % m).cast("int").as("bucket"),
        when(expr(s"h div $m") === 0L, lit(ops.Sketches.RankCap))
          .otherwise(lit(ops.Sketches.RankCap) -
            length(conv(expr(s"h div $m").cast("string"), 10, 2)))
          .cast("int").as("rank"))
      .groupBy("d", "bucket").agg(max("rank").as("r"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getInt(2)).toMap
    val win = SparkEntry.queries("q_hll_window_7d")(spark, sfDir).collect()
      .map(r => (r.getDate(0), r.getInt(1), r.getInt(2)))
    // dominance + exact driver-side recompute of the trailing max
    win.foreach { case (d, b, reg) =>
      val trailing = (0 to 6).flatMap { k =>
        val dd = java.sql.Date.valueOf(d.toLocalDate.minusDays(k)).toString
        daily.get((dd, b))
      }
      val want = if (trailing.isEmpty) 0 else trailing.max
      assert(reg === want, s"($d, $b): window register $reg != trailing max $want")
    }
    // the merged week sketch estimates the week's exact distinct count
    val byDay = win.groupBy(_._1)
    val events = Tables.events(spark, sfDir)
      .select(col("ts").cast("date").as("d"), col("user_id"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1))
    byDay.foreach { case (d, rows) =>
      val exact = events.collect { case (ed, u)
        if !ed.isAfter(d.toLocalDate) && !ed.isBefore(d.toLocalDate.minusDays(6)) => u
      }.distinct.length
      val est = ops.Sketches.estimate(rows.map(_._3).filter(_ > 0).toSeq)
      assert(math.abs(est - exact) / math.max(exact, 1) < 0.45,
        s"week ending $d: HLL $est vs exact $exact")
    }
  }

  test("join-size estimate is an upper bound and within the CMS error envelope") {
    val rows = SparkEntry.queries("q_join_size_est")(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // overestimate-only, row by row (collision mass is non-negative)
    rows.foreach { case (est, exact) =>
      assert(est >= exact, s"CMS join estimate $est under exact $exact")
    }
    // the min over rows is the estimator; its slack is bounded by the
    // product-mass / width envelope: min_j est ≤ exact + 4·|R|·|S|/w
    val exact = rows.head._2
    val n1 = Tables.events(spark, sfDir).count()
    val n2 = Tables(spark, sfDir, "orders").count()
    val bound = exact + 4L * n1 * n2 / graft.functions.CountMin.W
    assert(rows.map(_._1).min <= bound,
      s"min estimate ${rows.map(_._1).min} above envelope $bound")
  }

  test("EWMA trajectory: seeded at day one, bounded by the running value range") {
    val rows = SparkEntry.queries("q_ewma_daily")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    rows.foreach { case (t, series) =>
      val s = series.sortBy(_._2.toString)
      assert(s.head._4 === s.head._3, s"$t: ewma not seeded with first value")
      var lo = Long.MaxValue; var hi = Long.MinValue
      s.foreach { case (_, _, v, e) =>
        lo = math.min(lo, v); hi = math.max(hi, v)
        // trunc-div can undershoot the true convex combination by < 1
        assert(e >= lo - 1 && e <= hi, s"$t: ewma $e escapes [$lo, $hi]")
      }
    }
  }

  test("JL projection preserves pairwise squared distances in expectation") {
    val P = ops.Sketches.ProjDim
    val rows = SparkEntry.queries("q_rand_proj")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (1 to P).map(r.getLong).toArray).toMap
    val vm = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val ids = rows.keys.toSeq.sorted
    val ratios = ids.sliding(2).collect { case Seq(a, b) =>
      val dOrig = vm(a).zip(vm(b)).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum
      val dProj = rows(a).zip(rows(b)).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum
      dProj / (P * dOrig)
    }.toSeq
    // per-coordinate E[(s·v)²] = ‖v‖² for ±1 signs → ratio ≈ 1 with
    // std ≈ √(2/P) ≈ 0.35; the corpus is fixed, so these are
    // deterministic assertions, sized with generous tails
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.4, s"mean JL ratio $mean outside [0.7, 1.4]")
    // χ²₁₆/16-shaped tails are heavy — observed min ≈ 0.048 on this
    // corpus; the per-pair gate only guards against structural collapse
    assert(ratios.forall(r => r > 0.01 && r < 10.0),
      s"extreme JL ratio: min ${ratios.min}, max ${ratios.max}")
  }

  test("bottom-k quantile sketch: exact when k covers the group, rank error within 3/sqrt(k) when it samples") {
    import org.apache.spark.sql.functions._
    val k = ops.Sketches.BkK
    def rankErrors(dir: String): Seq[(String, Double, Double)] = {
      val est = SparkEntry.queries("q_bottomk_quantiles")(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
        .toMap
      val vals = Tables.events(spark, dir)
        .select(col("event_type"), round(col("value") * 1e6).cast("long").as("v"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
      vals.toSeq.map { case (t, sorted) =>
        val n = sorted.length
        val (kk, p50, p99) = est(t)
        def rankOf(v: Long): Double = sorted.count(_ <= v).toDouble / n
        if (kk < n) (t, math.abs(rankOf(p50) - 0.5), math.abs(rankOf(p99) - 0.99))
        else {
          // sample covers the whole group -> the estimator IS quantile_disc
          assert(p50 === sorted((math.ceil(0.5 * n) - 1).toInt),
            s"$t: full-coverage p50 must be exact")
          (t, 0.0, 0.0)
        }
      }
    }
    val bound = 3.0 / math.sqrt(k) // ~0.19 at k=256
    for ((t, e50, e99) <- rankErrors("/root/testdata/sf0.01")) {
      assert(e50 <= bound, s"$t p50 rank error $e50 > $bound")
      assert(e99 <= bound, s"$t p99 rank error $e99 > $bound")
    }
    // sf0.001 groups are ~200 rows < k: full coverage, asserted exact inside
    rankErrors(TestSpark.sf0001)
  }

  test("HLL inclusion-exclusion intersections track exact overlap (sf0.01)") {
    // n ~= 1430 per status >> 2.5m: the raw-estimate regime the mix31
    // avalanche finalizer exists for. Incl-excl amplifies single-set error
    // (three estimates combine), so the gate is 2.5x the 13% single-set
    // sigma; measured worst case on the shipped corpus is ~10%.
    val rows = SparkEntry.queries("q_hll_intersect")(spark, "/root/testdata/sf0.01")
      .select("exact_inter", "est_inter").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(0).toDouble
      val est   = r.getDouble(1)
      assert(math.abs(est - exact) / exact <= 0.33,
        s"intersection estimate $est vs exact $exact drifted past the envelope")
    }
  }

  test("histogram quantile brackets contain the exact sorted quantiles") {
    for (dir <- Seq(TestSpark.sf0001, "/root/testdata/sf0.01")) {
      val sorted = Tables.lineitem(spark, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
        .orderBy("c").as[Long].collect()
      val rows = SparkEntry.queries("q_hist_quantiles")(spark, dir).collect()
      assert(rows.length === ops.Sketches.HqPcts.length)
      rows.foreach { r =>
        val rank = r.getLong(1)
        val exact = sorted((rank - 1).toInt)
        val (lo, hi) = (r.getLong(4), r.getLong(5))
        assert(lo <= exact && exact <= hi,
          s"$dir pct ${r.getInt(0)}: exact $exact outside bracket [$lo, $hi]")
      }
    }
  }

  test("histogram state is additive: shard histograms sum to the global histogram") {
    val cents = Tables.lineitem(spark, sfDir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_orderkey"))
    val mm = cents.agg(min("cents"), max("cents")).head()
    val (lo, width) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
    def histOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      ops.Sketches.centsHist(df.select("cents"), lo, width)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val whole = histOf(cents)
    val even  = histOf(cents.filter(col("l_orderkey") % 2 === 0))
    val odd   = histOf(cents.filter(col("l_orderkey") % 2 =!= 0))
    val merged = (even.keySet ++ odd.keySet).map(k =>
      k -> (even.getOrElse(k, 0L) + odd.getOrElse(k, 0L))).toMap
    assert(merged === whole)
  }

  test("out-of-range values land in floor-division diagnostic buckets, not bucket 0") {
    // frozen geometry lo=1000, width=512 → two cents per bucket. The
    // width must NOT divide every (cents - lo) * HqBuckets numerator:
    // with width=256 the remainder is always 0 and truncating `div`
    // coincides with floor, so the regression test would pass without
    // the CASE fix. Here cents=999 gives numerator -256, remainder
    // -256 < 0: floor yields bucket -1 where truncation yields 0 —
    // this geometry actually pins the fix.
    import spark.implicits._
    val vals = Seq(999L, 1000L - 512L, 1000L, 1001L, 1002L, 2000L)
      .toDF("cents")
    val got = ops.Sketches.centsHist(vals, 1000L, 512L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 999 → floor(-256/512) = -1 (truncation would say 0);
    // 488 → floor(-131072/512) = -256; 1000 → 0; 1001 → floor(256/512)=0;
    // 1002 → 1; 2000 → floor(256000/512) = 500
    assert(got === Map(-1L -> 1L, -256L -> 1L, 0L -> 2L, 1L -> 1L,
      500L -> 1L))
  }

  test("pcScoreHist floors sub-lo drift scores into negative diagnostic buckets") {
    // the streaming drift feed freezes (lo, width) from a baseline era;
    // an after-era score BELOW the frozen lo must not merge into bucket 0
    // (EdBuckets=16). lo=100, width=24: pc1=99 → numerator -16, floor
    // bucket -1; pc1=98 → -32/24 floor -2 (truncation says -1); pc1=100 →
    // 0; pc1=123 → 368/24 floor 15 (top in-range bracket); pc1=124 → 16
    // (overflow id).
    import spark.implicits._
    val scored = Seq(98L, 99L, 100L, 123L, 124L).toDF("pc1")
    val got = ops.Clustering.pcScoreHist(scored, 100L, 24L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(-2L -> 1L, -1L -> 1L, 0L -> 1L, 15L -> 1L,
      16L -> 1L))
  }

  test("hllRegistersOf stays accurate on short decimal-string ids past the linear-counting regime") {
    // the BoilerFold tripwire's id population is doc_id CAST TO STRING —
    // short decimal keys, exactly the arithmetic-progression PolyHash
    // orbit that under-estimated ~2x UN-mixed once distinct ids left the
    // m=64 linear-counting regime (~160 ids). hllRegistersOf now routes
    // through mix31; the 1.5x re-ingest gate needs est within (n/1.5,
    // 1.5n) on a contract-abiding stream — gate well inside that margin
    // at several cardinalities spanning the raw regime, including the
    // dense-sequential and the sparse-stride id shapes.
    import spark.implicits._
    for ((ids, tag) <- Seq(
        ((0L until 1000L), "dense 0..999"),
        ((0L until 5000L), "dense 0..4999"),
        ((0L until 1000L).map(_ * 7L + 3L), "stride-7"))) {
      val regs = ops.Sketches.hllRegistersOf(
          ids.toDF("doc_id"), "doc_id")
        .select("register").as[Int].collect().toSeq
      val est = ops.Sketches.estimate(regs)
      val n = ids.size.toDouble
      assert(est > n / 1.4 && est < n * 1.4,
        s"$tag: mixed HLL estimate $est vs true $n breaches the " +
          "tripwire's 1.5x gate margin")
    }
  }
}
