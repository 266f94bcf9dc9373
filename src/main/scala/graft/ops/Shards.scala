package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Deterministic global shuffle + shard export — the last step of every
  * training-corpus build: scatter documents pseudo-randomly across N
  * shard files in a reproducible order, so a training run streams shards
  * sequentially yet sees a well-mixed corpus (the webdataset/tfrecord
  * layout). Built from [[Sampling]]'s overflow-safe cross-engine hash:
  *
  *  - `key`  — a pure-integer hash of doc_id (distinct multiplier
  *    assignment from the sampling gate so shard scatter and sample
  *    membership stay independent); the SHUFFLE ORDER.
  *  - `shard = key mod N` — which output file.
  *  - `pos`  — rank of the key within the shard; the WITHIN-FILE order.
  *
  * Scale shape: one hash exchange on `shard` plus a per-shard sort. N is
  * chosen so one shard is task-sized (the universal practice — shards of
  * ~100 MB–1 GB, so 100 TB ⇒ N ≈ 10⁵), which bounds the per-task sort by
  * construction; there is no global sort and no driver state. Everything
  * is a deterministic function of doc_id, so re-running the export — or
  * re-exporting after appending documents — never reorders existing
  * (shard, key) placements relative to each other, and the DuckDB oracle
  * reproduces the assignment bit-for-bit (the cross-engine proof that a
  * consumer could re-derive shard membership without this engine).
  *
  * Reference analog: the per-day deterministic batching the reference
  * uses to scatter work (sql_to_line.py:113-131), keyed on a hash instead
  * of a date so the scatter is uniform at any corpus size.
  */
object Shards {

  import Sampling.{A, B, H, M}

  /** Shards for the declared query (testdata-sized; production picks N
    * from corpus_bytes / target_shard_bytes).
    */
  final val NShards = 8

  /** Additive constant distinct from [[Sampling.C]]: same mixer family,
    * different stream — shard scatter must not correlate with the 10%
    * sample gate built on (A·lo + B·hi + C).
    */
  final val C2 = 9973L

  /** Shuffle key: overflow-safe integer hash of an int64 id (multipliers
    * swapped relative to [[Sampling.bucket100]], constant [[C2]]), then a
    * SECOND multiply-mod round. One round is monotone in the id until the
    * first mod-M wrap (stride B, so ids below M/B ≈ 44k sort in ingestion
    * order — no shuffle at all); the second round turns that stride into
    * B·A mod M, which wraps every couple of ids — consecutive ids land
    * far apart in both shard and in-shard order. Products stay < 2^62
    * (k1 < M ≈ 2^31, A < 2^31), so both engines compute it exactly.
    */
  def shuffleKey(id: Column): Column = {
    val lo = pmod(id, lit(H))
    val hi = shiftright(id, 31)
    val k1 = pmod(lo * lit(B) + hi * lit(A) + lit(C2), lit(M))
    pmod(k1 * lit(A) + lit(B), lit(M))
  }

  /** The identical formula in DuckDB SQL. */
  def shuffleKeySql(id: String): String =
    s"((((($id % $H) * $B + ($id // $H) * $A + $C2) % $M) * $A + $B) % $M)"

  /** (doc_id, shard, pos): the full shard assignment frame. */
  def shardAssign(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("key", "doc_id")
    docs.select(col("doc_id"), shuffleKey(col("doc_id")).as("key"))
      .withColumn("shard", pmod(col("key"), lit(n.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  val queries: Seq[Q] = Seq(

    // Deterministic shard + in-shard position for every document,
    // cell-exact cross-engine. The window partitions by shard (never
    // global), mirroring the export's per-shard sort.
    Q("q_shard_assign",
      s"""WITH k AS (
         |  SELECT doc_id, ${shuffleKeySql("doc_id")} AS key
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(key % $NShards AS BIGINT) AS shard,
         |       CAST(row_number() OVER (PARTITION BY key % $NShards
         |                               ORDER BY key, doc_id) AS BIGINT) AS pos
         |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
      shardAssign(Tables.documents(s, dir), NShards).orderBy("doc_id")
    },

    // RENDEZVOUS (highest-random-weight) sharding — Thaler & Ravishankar
    // 1996: doc d lands on argmax_s weight(d, s). The elastic-resharding
    // complement of the mod-N layout above: removing a shard moves ONLY
    // the keys whose argmax was the removed shard (≈ 1/N of the corpus),
    // and ADDING a shard moves only the keys the new shard now wins
    // (≈ 1/(N+1)) — where mod-(N±1) would reshuffle nearly everything.
    // The query emits the full-fleet, drained (last shard removed) and
    // grown (one shard added) argmax per document plus both moved flags;
    // the two stability theorems — moved ⟺ the full-fleet winner was the
    // removed shard; moved_up ⟺ the NEW shard is the grown winner — are
    // gated in QueriesSpec over this exact output. Weights ride the
    // [[Sampling]] mixer family (third stream constant [[C3]], shard id
    // folded in before the second multiply-mod round), so both engines
    // compute the same pure-integer argmax; ties break to the lowest
    // shard id in a (−w, s) struct min. Scale: a narrow per-row argmax
    // over N literal weight expressions — zero shuffle; N is fleet size,
    // not data.
    Q("q_rendezvous_shards",
      s"""WITH ${hrwArgmaxCte("a8", NShards)},
         |${hrwArgmaxCte("a7", NShards - 1)},
         |${hrwArgmaxCte("a9", NShards + 1)}
         |SELECT a8.doc_id, a8.s AS shard_full, a7.s AS shard_drained,
         |       (a8.s <> a7.s) AS moved,
         |       a9.s AS shard_grown, (a8.s <> a9.s) AS moved_up
         |FROM a8 JOIN a7 ON a7.doc_id = a8.doc_id
         |        JOIN a9 ON a9.doc_id = a8.doc_id
         |ORDER BY a8.doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          hrwShard(col("doc_id"), NShards).as("shard_full"),
          hrwShard(col("doc_id"), NShards - 1).as("shard_drained"))
        .withColumn("moved", col("shard_full") =!= col("shard_drained"))
        .withColumn("shard_grown", hrwShard(col("doc_id"), NShards + 1))
        .withColumn("moved_up", col("shard_full") =!= col("shard_grown"))
        .orderBy("doc_id")
    },

    // ELASTIC SCALE-OUT DELTA — [[shardScaleOutArrivals]] as a declared
    // relation: the exact row set a rendezvous-sharded persisted index
    // ships to the NEW shard when the fleet grows N → N+1. By the HRW
    // grown-winner theorem (gated in QueriesSpec over q_rendezvous_shards'
    // output, and proven against the explicit old≠new comparison on a
    // real IVF index in ShardsSpec), this is ONE narrow argmax filter —
    // grown-fleet winner = the new shard id — over the index frame: the
    // old assignment is never recomputed, every surviving shard's files
    // stay byte-identical (ShardsSpec size+mtime snapshot), and the
    // payload (here `lang`; in the vector plane cells/codes/band keys)
    // rides along untouched. ≈ 1/(N+1) of rows move — SCALING.md records
    // the delta write at 1.3 s vs 2.75 s for a full re-shard at ×50.
    // Zero shuffle: a per-row argmax over N+1 weight literals + filter.
    Q("q_shard_scaleout_delta",
      s"""WITH ${hrwArgmaxCte("a9", NShards + 1)}
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN a9 ON a9.doc_id = d.doc_id
         |WHERE a9.s = $NShards
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      shardScaleOutArrivals(
        Tables.documents(s, dir).select("doc_id", "lang"),
        "doc_id", NShards)
        .orderBy("doc_id")
    }
  )

  /** The [[hrwWeight]] formula in DuckDB SQL — shard·A precomputed
    * (s·A overflows INT32 inline).
    */
  private def hrwWeightSql(s: Int): String =
    s"(((((doc_id % $H) * $B + (doc_id // $H) * $A + ${s.toLong * A}" +
      s" + $C3) % $M) * $A + $B) % $M)"

  /** A DuckDB CTE computing the HRW argmax over `n` shards per document
    * (ties to the lowest shard id) — shared by q_rendezvous_shards and
    * q_shard_scaleout_delta.
    */
  private def hrwArgmaxCte(name: String, n: Int): String =
    s"""$name AS (
       |  SELECT doc_id, s FROM (
       |    SELECT doc_id, CAST(t.s AS BIGINT) AS s,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY CASE ${(0 until n).map(i =>
              s"WHEN t.s = $i THEN ${hrwWeightSql(i)}").mkString(" ")} END DESC,
       |             t.s) AS rn
       |    FROM documents, range(0, $n) t(s))
       |  WHERE rn = 1)""".stripMargin

  /** HRW argmax over `n` shards: the shard whose weight wins for `id`
    * (ties to the lowest shard id via the (−w, s) struct min) — a narrow
    * per-row expression over n weight literals, zero shuffle. This is the
    * shard-route option CorpusBuild exposes: mod-N scatter ([[shardAssign]])
    * when the fleet is fixed, HRW when shards come and go (only ≈ 1/(N+1)
    * of keys move per resize, in the arrivals-only direction).
    */
  def hrwShard(id: Column, n: Int): Column =
    array_min(array((0 until n).map(sh =>
      struct((-hrwWeight(id, sh)).as("nw"), lit(sh).as("s"))): _*))
      .getField("s").cast("long")

  /** ELASTIC SCALE-OUT drill for a persisted index partitioned by
    * rendezvous shard: the N → N+1 rebalance delta. By the HRW
    * grown-winner theorem (q_rendezvous_shards: a key moves ⟺ the grown
    * fleet's argmax is the NEW shard), the delta is ONE argmax filter —
    * `hrwShard(id, n+1) = n` — producing ≈ 1/(N+1) of the rows; the
    * old assignment is never recomputed (in the persisted layout it is
    * the partition column, so departures are keyed deletes against
    * partitions already known), every surviving shard's files stay
    * byte-identical, and the index payload (IVF cell, PQ codes, MinHash
    * band keys — all per-row functions of the row and frozen model
    * state) rides along untouched: no re-quantization, no re-hash, no
    * shuffle of the untouched shards. ShardsSpec gates the composed
    * theorem on a real IVF index — this filter row-for-row equals the
    * explicit old≠new comparison — and SCALING.md records delta-write
    * vs full-reshard-write walls.
    */
  def shardScaleOutArrivals(index: DataFrame, idCol: String,
      n: Int): DataFrame =
    index.filter(hrwShard(col(idCol), n + 1) === n)

  /** Third mixer-stream constant — rendezvous weights must correlate with
    * neither the sample gate (C) nor the shuffle key ([[C2]]).
    */
  final val C3 = 7717L

  /** HRW weight of (id, shard): the [[shuffleKey]] two-round mixer with
    * the shard id folded into round 1. Products stay < 2^62.
    */
  def hrwWeight(id: Column, shard: Int): Column = {
    val lo = pmod(id, lit(H))
    val hi = shiftright(id, 31)
    val k1 = pmod(lo * lit(B) + hi * lit(A) + lit(shard.toLong * A) + lit(C3),
      lit(M))
    pmod(k1 * lit(A) + lit(B), lit(M))
  }
}
