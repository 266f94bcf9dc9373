package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.Corpus

class CorpusSpec extends SparkSpec {

  private lazy val labels = Corpus.nearDupComponents(spark, sfDir).cache()
  private lazy val pairs = SparkEntry.queries("q_dedup_minhash_pairs")(spark, sfDir)
    .select("d1", "d2").cache()

  test("every near-dup pair lands in one component") {
    val l1 = labels.select(col("doc_id").as("d1"), col("keeper").as("k1"))
    val l2 = labels.select(col("doc_id").as("d2"), col("keeper").as("k2"))
    val split = pairs.join(l1, "d1").join(l2, "d2").filter(col("k1") =!= col("k2"))
    assert(split.count() === 0, "a near-dup pair was split across components")
  }

  test("keepers are component minima and self-labeled") {
    assert(labels.filter(col("keeper") > col("doc_id")).count() === 0)
    val keeperRows = labels.select(col("keeper").as("doc_id")).distinct()
    val selfLabel = keeperRows.join(labels, "doc_id")
      .filter(col("keeper") =!= col("doc_id"))
    assert(selfLabel.count() === 0, "a keeper's own label is not itself")
  }

  test("component labels match a driver-side union-find (ground truth)") {
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (d, k) =>
      assert(find(d) === k, s"doc $d: engine keeper $k != union-find ${find(d)}")
    }
  }

  test("training corpus: english only, exactly one representative per component") {
    val corpus = Corpus.trainingCorpus(spark, sfDir).cache()
    assert(corpus.count() > 0)
    assert(corpus.filter(col("lang") =!= "en").count() === 0)
    // no two corpus docs share a near-dup component
    val withComp = corpus.join(labels, "doc_id")
    val dupComps = withComp.groupBy("keeper").count().filter(col("count") > 1)
    assert(dupComps.count() === 0, "two near-dups survived into the corpus")
    // and a component with ANY filtered survivor IS represented (filter
    // runs BEFORE dedup, so a failing min-id member can't sink its component)
    val toks = split(col("text"), " ")
    val survivors = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en" &&
        ops.TextOps.enStopHits(toks) / size(toks) >= 0.05 &&
        ops.TextOps.qualityKeep(col("text")))
      .select("doc_id")
    val survivorComps   = survivors.join(labels, "doc_id").select("keeper").distinct()
    val representedComps = withComp.select("keeper").distinct()
    assert(survivorComps.except(representedComps).count() === 0,
      "a component with an eligible member has no corpus representative")
  }

  test("clearCaches releases the memoized cluster-pipeline storage") {
    // materialize the memoized pipeline frames (idempotent if already run)
    val comps = Corpus.nearDupComponents(spark, sfDir)
    comps.count()
    val ckptRdd = comps.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "expected memoized frames to be persisted")
    assert(spark.sparkContext.getPersistentRDDs.contains(ckptRdd))
    // one memo in each module, so the registry total covers all four
    ops.Dedup.clusterFrame(spark, sfDir)
    ops.Tokenize.train(spark, sfDir, 4)
    ops.Multimodal.percCodesFrame(spark, sfDir)
    def moduleCounts(): Seq[Int] = Seq(ops.Dedup.cacheCount(spark),
      Corpus.cacheCount(spark), ops.Tokenize.cacheCount(spark),
      ops.Multimodal.cacheCount(spark))
    assert(moduleCounts().forall(_ > 0), s"unfilled module memo: ${moduleCounts()}")
    assert(Memo.count(spark) === moduleCounts().sum)
    // an entry of another session is not this session's to release
    val other = spark.newSession()
    ops.Tokenize.train(other, sfDir, 4)
    Memo.clear(spark)
    assert(Memo.count(spark) === 0)
    assert(moduleCounts().sum === 0)
    assert(Memo.count(other) === 1, "clear(spark) dropped another session's entry")
    Memo.clear(other)
    // the checkpoint is released at once, not left to the ContextCleaner
    assert(!spark.sparkContext.getPersistentRDDs.contains(ckptRdd),
      "the component frame's checkpoint RDD is still persisted")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after < before, s"clearCaches released no storage ($before -> $after)")
    // the pipeline repopulates transparently after the release
    assert(Corpus.nearDupComponents(spark, sfDir).count() > 0)
  }

  test("source vocabulary overlap: set-algebra invariants and a brute-force pair") {
    val out = SparkEntry.queries("q_source_vocab_overlap")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val sources = Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(out.length === (sources * (sources - 1) / 2), "missing source pairs")
    out.foreach { case (s1, s2, inter, uni) =>
      assert(s1 < s2 && inter >= 0 && uni >= inter,
        s"($s1,$s2): inter=$inter uni=$uni violates set algebra")
    }
    // brute-force one pair from raw text
    val (p1, p2) = (out.head._1, out.head._2)
    def vocab(src: String): Set[String] = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("source") === src)
      .select("text").collect().flatMap { r =>
        r.getString(0).split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" "))
      }.toSet
    val (va, vb) = (vocab(p1), vocab(p2))
    assert(out.head._3 === va.intersect(vb).size.toLong)
    assert(out.head._4 === va.union(vb).size.toLong)
  }

  test("CC oracle unroll bound: min-label propagation is at fixpoint by CcOracleIters") {
    // the q_dedup_components oracle unrolls CcOracleIters plain
    // propagation rounds; the engine's pointer jumping converges fully.
    // Equality of the two therefore requires the doc-graph diameter to be
    // within the unroll — assert it directly, so a corpus regen that
    // stretches the diameter fails loudly here rather than as an opaque
    // oracle hash mismatch
    val pairs = ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
    def lbl(iters: Int): Map[Long, Long] =
      ops.Graph.labelProp(pairs, iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val atBound = lbl(ops.Corpus.CcOracleIters)
    assert(atBound === lbl(ops.Corpus.CcOracleIters + 1),
      s"doc graph diameter exceeds the ${ops.Corpus.CcOracleIters}-round oracle unroll")
    // and the fixpoint agrees with the engine's pointer-jumping keepers
    // on the docs the pair graph touches (singletons self-label in both)
    val keepers = ops.Corpus.nearDupComponents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    atBound.foreach { case (v, l) =>
      assert(keepers(v) === l, s"doc $v: propagation $l vs keeper ${keepers(v)}")
    }
  }
}
