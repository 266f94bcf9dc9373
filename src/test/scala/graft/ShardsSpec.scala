package graft

import org.apache.spark.sql.functions._

/** Shard export: assignment determinism/balance/stability and the written
  * layout (per-shard files whose row order equals the declared in-shard
  * position order).
  */
class ShardsSpec extends SparkSpec {

  import ops.Shards._

  private lazy val docs = Tables.documents(spark, sfDir)

  test("elastic scale-out of a sharded vector index moves only the new shard's arrivals") {
    // the composed shard × index theorem: a persisted IVF index
    // partitioned by rendezvous shard rebalances N -> N+1 by moving
    // ONLY the rows whose grown-fleet winner is the NEW shard; every
    // surviving shard's contents lose exactly their departures and gain
    // nothing, and the index payload (cell) is never recomputed
    val n = 8
    val emb = spark.range(1000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        sin(col("vec_id") * lit(101) + i * lit(7)).cast("float"))
        .as("embedding"))
    val cents = ops.Similarity.kmeansCentroidsFrom(emb)
    val index = ops.Similarity.ivfAssign(emb, cents).localCheckpoint()
    val arrivals = shardScaleOutArrivals(index, "vec_id", n)
      .localCheckpoint()
    // THE theorem on the composed path: the single grown-argmax filter
    // (what the drill computes) row-for-row equals the explicit
    // old-vs-new comparison — so no row ever moves between two
    // SURVIVING shards, and the old assignment never needs recomputing
    val explicit = index.filter(
      hrwShard(col("vec_id"), n) =!= hrwShard(col("vec_id"), n + 1))
    assert(arrivals.except(explicit).count() === 0 &&
      explicit.except(arrivals).count() === 0,
      "grown-winner filter diverged from the explicit old≠new movers")
    val moved = arrivals.count()
    assert(moved > 0, "scale-out moved nothing — degenerate fixture")
    assert(moved <= 2L * 1000 / (n + 1),
      s"scale-out moved $moved rows, far above the ~1/(N+1) share")
    // payload untouched: movers carry their original cells verbatim
    assert(arrivals.select("vec_id", "cell")
      .except(index.select("vec_id", "cell")).count() === 0,
      "rebalance re-quantized a moved row")
    // surviving shards: new contents = old contents minus departures
    val oldSharded = index.withColumn("shard", hrwShard(col("vec_id"), n))
    val newSharded = index.withColumn("shard", hrwShard(col("vec_id"), n + 1))
    val survivorsAfter  = newSharded.filter(col("shard") < n)
    val survivorsExpect = oldSharded
      .join(arrivals.select("vec_id"), Seq("vec_id"), "left_anti")
    assert(survivorsAfter.except(survivorsExpect).count() === 0 &&
      survivorsExpect.except(survivorsAfter).count() === 0,
      "a surviving shard's contents changed beyond its departures")
    // serving unchanged: the re-sharded union is the same index relation
    assert(newSharded.drop("shard").except(index).count() === 0 &&
      index.except(newSharded.drop("shard")).count() === 0,
      "rebalance changed the index relation itself")
  }

  test("two-level layout scale-out: one new shard directory + logical deletes; survivors' files untouched") {
    // the storage face of the rebalance theorem: the persisted
    // partitionBy(shard, cell) layout scales out N -> N+1 by (a) writing
    // the arrivals as the ONE new shard's directory tree and (b) logging
    // the same bounded arrival set as logical deletes against the old
    // shards (the lakehouse tombstone story — departures are keyed
    // deletes, never partition rewrites). Every pre-existing file stays
    // byte-untouched, and the read path (old ∖ tombstones) ∪ new-shard
    // reconstructs the re-sharded index EXACTLY.
    val n = 8
    val emb = spark.range(1000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        sin(col("vec_id") * lit(101) + i * lit(7)).cast("float"))
        .as("embedding"))
    val cents = ops.Similarity.kmeansCentroidsFrom(emb)
    val indexed = ops.Similarity.ivfAssign(emb, cents).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("twolevel")
      .toString + "/layout"
    indexed.withColumn("shard", hrwShard(col("vec_id"), n))
      .write.partitionBy("shard", "cell").parquet(dir)
    def snapshot(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
    }
    val before = snapshot()
    // the scale-out delta: arrivals to the new shard's directory only
    val arrivals = shardScaleOutArrivals(indexed, "vec_id", n)
      .localCheckpoint()
    arrivals.write.partitionBy("cell").parquet(s"$dir/shard=$n")
    val after = snapshot()
    before.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta),
        s"scale-out touched a surviving file: $p")
    }
    assert((after.keySet -- before.keySet).forall(_.contains(s"shard=$n")),
      "scale-out wrote outside the new shard's directory")
    // read path: (old shards ∖ arrival tombstones) ∪ new shard — must
    // equal the fully re-sharded index relation
    val cols = Seq("vec_id", "embedding", "cell", "shard")
    val readBack = spark.read.parquet(dir)
      .withColumn("shard", col("shard").cast("long"))
      .select(cols.map(col): _*)
    val reconstructed = readBack.filter(col("shard") < n)
      .join(arrivals.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(cols.map(col): _*)
      .unionByName(readBack.filter(col("shard") === n))
    val want = indexed.withColumn("shard", hrwShard(col("vec_id"), n + 1))
      .select(cols.map(col): _*)
    assert(reconstructed.except(want).count() === 0 &&
      want.except(reconstructed).count() === 0,
      "tombstone read path diverged from the re-sharded index")
  }

  test("q_shard_scaleout_delta equals the rendezvous theorem's moved_up rows") {
    // the declared delta query must select EXACTLY the documents
    // q_rendezvous_shards marks moved_up (grown winner = new shard) —
    // the one-filter delta and the explicit old≠new comparison are the
    // same set, on the real documents table the oracle sees
    val delta = SparkEntry.queries("q_shard_scaleout_delta")(spark, sfDir)
      .select("doc_id")
    val movedUp = SparkEntry.queries("q_rendezvous_shards")(spark, sfDir)
      .filter(col("moved_up")).select("doc_id")
    assert(delta.except(movedUp).count() === 0 &&
      movedUp.except(delta).count() === 0,
      "delta query diverged from the rendezvous moved_up set")
    // and it is the expected ≈ 1/(N+1) fraction — nonempty, not the corpus
    val (nd, nAll) = (delta.count(), docs.count())
    assert(nd > 0 && nd < nAll / 4,
      s"delta selectivity off: $nd of $nAll moved for N=$NShards -> ${NShards + 1}")
  }

  test("assignment is a total, balanced, deterministic scatter") {
    val a = shardAssign(docs, NShards).cache()
    try {
      val nDocs = docs.count()
      assert(a.count() === nDocs)
      assert(a.select("doc_id").distinct().count() === nDocs)
      // every shard populated, none pathologically skewed (hash scatter:
      // expect ~nDocs/N per shard; assert within 3x either way)
      val sizes = a.groupBy("shard").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sizes.keySet === (0L until NShards.toLong).toSet)
      val expect = nDocs.toDouble / NShards
      sizes.values.foreach(n =>
        assert(n > expect / 3 && n < expect * 3, s"skewed shard: $n vs $expect"))
      // pos is a dense 1..size ranking within each shard
      val maxPos = a.groupBy("shard").agg(
        max("pos").as("mx"), count(lit(1)).as("n"))
      assert(maxPos.filter(col("mx") =!= col("n")).count() === 0)
      // re-computation is bit-identical (pure function of doc_id)
      assert(a.exceptAll(shardAssign(docs, NShards)).count() === 0)
    } finally a.unpersist()
  }

  test("appending documents never reorders surviving placements") {
    // export of a half-corpus, then of the full corpus: every pair of
    // docs sharing a shard in both keeps its relative order (keys are
    // fixed; only ranks shift). Verified via key monotonicity: pos order
    // equals key order within a shard, and keys don't change.
    val half = shardAssign(docs.filter(col("doc_id") % 2 === 0), NShards)
    val full = shardAssign(docs, NShards)
    val j = half.as("h").join(full.as("f"), "doc_id")
      .select(col("doc_id"), col("h.shard").as("s1"), col("f.shard").as("s2"),
        col("h.pos").as("p1"), col("f.pos").as("p2"))
    assert(j.filter(col("s1") =!= col("s2")).count() === 0)
    // relative order within a shard is preserved: join the half-export
    // with itself on shard, compare order predicates under both rankings
    val pairs = j.as("a").join(j.as("b"),
        col("a.s1") === col("b.s1") && col("a.doc_id") < col("b.doc_id"))
      .select((col("a.p1") < col("b.p1")).as("o1"),
        (col("a.p2") < col("b.p2")).as("o2"))
    assert(pairs.filter(col("o1") =!= col("o2")).count() === 0)
  }

}
