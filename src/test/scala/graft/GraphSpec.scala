package graft

import org.apache.spark.sql.functions._

/** PageRank validated against a hand-computed reference on a known graph,
  * plus conservation/positivity invariants on the near-dup graph query.
  */
class GraphSpec extends SparkSpec {

  /** Path + triangle: 1-2, 2-3 (path) and 10-11, 11-12, 10-12 (triangle). */
  private def fixturePairs = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("d1", "d2")
  }

  /** The same integer-micro recurrence, sequentially. */
  private def seqPageRank(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = deg.size
    var pr: Map[Long, Long] = deg.map { case (v, _) =>
      v -> math.round(1000000.0 / n)
    }
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / deg(u) }.sum).toMap
      pr = deg.map { case (v, _) =>
        v -> math.round(150000.0 / n + 0.85 * in.getOrElse(v, 0L))
      }
    }
    pr
  }

  test("distributed PageRank equals the sequential recurrence on a known graph") {
    val got = ops.Graph.pageRank(fixturePairs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = seqPageRank(
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L)),
      ops.Graph.PrIters)
    assert(got === want)
    // structure: triangle nodes are symmetric, path center outranks ends
    assert(got(10L) === got(11L) && got(11L) === got(12L))
    assert(got(2L) > got(1L) && got(1L) === got(3L))
  }

  test("near-dup PageRank: positive ranks, mass ≈ 1, degrees match the pair graph") {
    val out = SparkEntry.all.find(_.name == "q_pagerank_neardup").get
      .build(spark, sfDir).cache()
    assert(out.filter(col("pr_micro") <= 0).count() === 0)
    val n = out.count()
    val mass = out.agg(sum("pr_micro")).head.getLong(0)
    // floor division loses up to (deg-1) micro per node per round (the
    // price of the integer-exact cross-engine trajectory), plus one
    // rounding per node; mass can only drift DOWN by that much
    val sumDeg = out.agg(sum("deg")).head.getLong(0)
    val slack = ops.Graph.PrIters * (sumDeg + n)
    assert(mass <= 1000000L + ops.Graph.PrIters * n &&
      mass >= 1000000L - slack,
      s"mass $mass outside [1e6 - $slack, 1e6 + ${ops.Graph.PrIters * n}]")
    // round 7: the declared query runs the FULL near-dup graph (the
    // temp-table oracle script removed the old doc_id % 4 cost
    // restriction), so degrees must match the full pair graph
    val p = ops.Dedup.minhashPairs(spark, sfDir)
    val deg = p.select(col("d1").as("doc_id"))
      .union(p.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("want"))
    assert(out.join(deg, "doc_id").filter(col("deg") =!= col("want")).count() === 0)
  }

  test("PageRank is personalized PageRank with every vertex its own seed") {
    // each doc its own source: every vertex of the pair graph is a seed, so
    // ns = |V| and the seeded base term 0.15·10⁶/ns is PageRank's
    // 0.15·10⁶/n — the identity the shared oracle rank round rests on
    val pairs = ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("doc_id").cast("string").as("source"))
    val ppr = ops.Graph.pprSeeded(pairs, docs).cache()
    assert(ppr.filter(!col("is_seed")).count() === 0)
    val got = ppr.select("doc_id", "deg", "ppr_micro").collect().toSet
    val want = ops.Graph.pageRank(pairs).select("doc_id", "deg", "pr_micro")
      .collect().toSet
    assert(got.nonEmpty && got === want)
    ppr.unpersist()
  }

  test("label propagation: sequential equality at LpIters, CC convergence at diameter") {
    // sequential recurrence on the known fixture
    def seqLp(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = nbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to iters)
        lbl = lbl.map { case (v, l) =>
          v -> math.min(l, nbrs(v).map(lbl).min)
        }
      lbl
    }
    val fx = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val got = ops.Graph.labelProp(fixturePairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === seqLp(fx, ops.Graph.LpIters))
    // LpIters = 4 >= both components' diameters here → exact CC min-ids
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // on the corpus graph: labels only decrease with more rounds, and at
    // 20 rounds (>> diameter of the dense near-dup graph) every node in a
    // connected pair shares its component's minimum — cross-check against
    // an independent union-find on the collected edge list
    val pairs = ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
    val e = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    e.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = e.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(v => v -> find(v)).toMap
    val conv = ops.Graph.labelProp(pairs, 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv === want, "20-round label prop did not reach CC min-ids")
  }

  test("triangle counts: known fixture + brute-force equality on the corpus graph") {
    // fixture: the 10-11-12 triangle contributes 1 to each corner; the
    // 1-2-3 path contributes none
    val fx = ops.Graph.triangleCounts(fixturePairs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fx === Map(1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))

    // corpus near-dup graph: per-vertex counts vs a driver-side brute
    // force over the collected edge list (test-only — the oriented plan
    // exists so production never materializes neighborhoods²)
    val pairs = ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
    val e = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    e.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val verts = adj.keys.toSeq
    val want = verts.map { v =>
      val nb = adj(v).toSeq
      v -> nb.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }.toLong
    }.toMap
    val got = ops.Graph.triangleCounts(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === want, "oriented triangle counts diverged from brute force")
    // orientation soundness: total triangle mass is divisible by 3
    assert(got.values.sum % 3 === 0)
  }

  test("k-core: fixed-round peel reaches the true fixpoint; core degrees are >= K") {
    import ops.Graph.{KcIters, kCore}
    val pairs = ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
    val atR  = kCore(pairs, KcIters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val atR1 = kCore(pairs, KcIters + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the declared bound really is the fixpoint at this scale — a corpus
    // regen that slows convergence past KcIters fails here, loudly
    assert(atR.toSet === atR1.toSet,
      s"peel did not converge by round $KcIters")
    // core property: every survivor keeps >= K neighbors inside the core
    atR.foreach { case (v, coreDeg, k) =>
      assert(coreDeg >= k, s"vertex $v kept only $coreDeg < K=$k core edges")
    }
    // driver-side sequential peel (to TRUE convergence) agrees
    val e = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    e.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val k = (2L * e.length) / (2L * adj.size)
    var alive = adj.keySet.toSet
    var changed = true
    while (changed) {
      val next = alive.filter(v => adj(v).count(alive) >= k)
      changed = next != alive; alive = next
    }
    assert(atR.map(_._1).toSet === alive,
      "fixed-round distributed peel diverged from the sequential k-core")
  }

  test("k-core: a cascading peel (one vertex per round) matches the round-by-round peel") {
    import ops.Graph.{KcIters, kCore}
    import spark.implicits._
    // an 8-clique (0..7) with a 5-vertex path 7-100-101-102-103-104:
    // 33 edges over 13 vertices gives K = 66 div 26 = 2, so every round
    // peels exactly the path's current end — rounds 1..5 each drop one
    // vertex and round 6 changes nothing. (The corpus graph converges
    // after one round at small scale, so it cannot catch a convergence
    // witness that stops the loop too early.)
    val clique = for (a <- 0L to 7L; b <- a + 1 to 7L) yield (a, b)
    val path = Seq(7L, 100L, 101L, 102L, 103L, 104L).sliding(2).map(p => (p(0), p(1))).toSeq
    val e = clique ++ path
    val pairs = e.toDF("d1", "d2")
    val adj = e.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
    val k = e.length.toLong / adj.size
    assert(k === 2L)
    def peel(rounds: Int): Set[Long] =
      (1 to rounds).foldLeft(adj.keySet) { (alive, _) =>
        alive.filter(v => adj(v).count(alive) >= k)
      }
    for (r <- Seq(1, 3, KcIters)) {
      val got = kCore(pairs, r).collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2))).toSet
      val alive = peel(r)
      assert(got === alive.map(v => (v, adj(v).count(alive).toLong, k)),
        s"$r-round distributed peel diverged from the round-by-round peel")
    }
    assert(peel(KcIters) === (0L to 7L).toSet)
  }

  test("label propagation and k-truss stop at their fixpoint, well under a 50-round cap") {
    import ops.Graph.{KtIters, LpIters, kTruss, labelProp}
    import spark.implicits._
    // an 8-clique (0..7) with the path 7-100-101-102: 102 sits 4 hops from
    // 0, so the labels settle in LpIters = 4 rounds and round 5 repeats
    // them; the truss peel drops the triangle-free path in round 1 and
    // round 2 repeats the clique
    val clique = for (a <- 0L to 7L; b <- a + 1 to 7L) yield (a, b)
    val path = Seq(7L, 100L, 101L, 102L).sliding(2).map(p => (p(0), p(1))).toSeq
    val pairs = (clique ++ path).toDF("d1", "d2")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val cap = 50
    for ((name, op, bound) <- Seq[(String, Int => org.apache.spark.sql.DataFrame, Int)](
        ("labelProp", labelProp(pairs, _), LpIters), ("kTruss", kTruss(pairs, _), KtIters))) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      val capped = try {
        val (df, _) = Metrics.observe(spark, name, "build")(op(cap))
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
        df
      } finally spark.sparkContext.removeSparkListener(t)
      val jobs = t.snapshot((name, "build")).jobs
      assert(jobs < cap, s"$name ran $jobs build jobs for a $cap-round cap")
      assert(rows(capped) === rows(op(bound)),
        s"$name at the fixpoint differs from its $bound-round answer")
    }
    assert(rows(labelProp(pairs, LpIters).select("lbl").distinct()) === Set(Seq(0L)))
    assert(rows(kTruss(pairs, KtIters)).size === clique.size)
  }

  test("k-truss: fixed-round peel reaches the fixpoint and matches a sequential truss") {
    import ops.Graph.{KtIters, KtK, kTruss}
    val pairs = ops.Dedup.simhash128PairsFrom(Tables.documents(spark, sfDir))
      .select("d1", "d2")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atR  = asSet(kTruss(pairs, KtIters))
    val atR1 = asSet(kTruss(pairs, KtIters + 1))
    assert(atR === atR1, s"truss peel did not converge by round $KtIters")
    // truss property: every surviving edge closes >= K-2 triangles
    assert(atR.forall(_._3 >= KtK - 2))
    // sequential peel to TRUE convergence agrees edge-for-edge
    var edges = pairs.collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    var changed = true
    var sup = Map.empty[(Long, Long), Int]
    while (changed) {
      val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
      sup = edges.toSeq.map { case (a, b) =>
        (a, b) -> (adj(a) & adj(b)).size
      }.toMap
      val next = edges.filter(e => sup(e) >= KtK - 2)
      changed = next != edges; edges = next
    }
    assert(atR === edges.map(e => (e._1, e._2, sup(e).toLong)),
      "fixed-round distributed truss diverged from the sequential peel")
  }
}
