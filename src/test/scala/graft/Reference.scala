package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.exprs._

/** Reference formulations the specs compare the engine against. None of
  * them is declared or reached from a main: each is the slow, obvious
  * form of an optimized operator, kept here as that operator's oracle.
  */
object SimilarityReference {
  import graft.ops.Similarity._

  /** The fixed 16-bit-chunk MIH engine, parametric in the code words —
    * the reference `Similarity.mihPairsChunked` is held to: `codes` carries
    * `vec_id` plus `words` 32-bit-valued long columns; chunk c is bits
    * [c·16, c·16+16) of their concatenation, probed at radius
    * floor(tau / chunks) — the pigeonhole guarantee that every pair
    * within `tau` collides on some probed chunk key.
    */
  def mihPairs(codes: DataFrame, words: Seq[String],
      tau: Int): DataFrame = {
    val chunks = words.length * 2
    val radius = tau / chunks
    // the per-chunk probe neighborhood — a model-state literal (697 masks
    // at radius 3)
    val masks: Seq[Long] =
      (0 until 65536).filter(m => Integer.bitCount(m) <= radius).map(_.toLong)
    val ch = codes.withColumn("ws", array(words.map(col): _*))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${chunks - 1}), c -> " +
          "shiftright(element_at(ws, CAST(c div 2 + 1 AS INT)), (c % 2) * 16) & 65535L)"))
        .as(Seq("c", "key")))
    val probes = ch
      .select(col("vec_id").as("v1"), col("c"), col("key"),
        explode(typedLit(masks)).as("m"))
      .select(col("v1"), col("c"), col("key").bitwiseXOR(col("m")).as("pkey"))
    // SHUFFLE_HASH strategy hint (not a broadcast): the probe side is a
    // 697-way explode whose size Catalyst underestimates — left to its
    // stats, the planner may pick a BROADCAST join and collect the
    // exploded frame to the driver (observed at ×50, SCALING.md:
    // maxResultSize abort at ~1 GB). Pinning a shuffled hash join keeps
    // both sides partitioned on (chunk, key) at any scale; the index
    // side builds Θ(rows/partitions) per task.
    val cand = probes.join(
        ch.select(col("vec_id").as("v2"), col("c"), col("key").as("pkey"))
          .hint("SHUFFLE_HASH"),
        Seq("c", "pkey"))
      .filter(col("v1") < col("v2"))
      .select("v1", "v2").distinct()
    val a = codes.select(
      col("vec_id").as("v1") +: words.map(w => col(w).as(s"${w}1")): _*)
    val b = codes.select(
      col("vec_id").as("v2") +: words.map(w => col(w).as(s"${w}2")): _*)
    cand.join(a, "v1").join(b, "v2")
      .select(col("v1"), col("v2"),
        expr(words.map(w => s"bit_count(${w}1 ^ ${w}2)").mkString(" + "))
          .cast("int").as("ham"))
      .filter(col("ham") <= tau)
  }

  /** Mean best-centroid cosine — the quantization quality of a corpus
    * under the given centroids (1.0 = every vector sits on a centroid
    * direction). One narrow aggregation; O(1) result rows.
    */
  def quantScore(emb: DataFrame,
      cents: Array[Array[Double]]): Double = {
    val r = withNorm(emb).select(avg(
      array_max(centScores(col("embedding"), cents)) / col("nrm")).as("q"))
      .head
    require(!r.isNullAt(0),
      "quantScore: empty corpus — no quantization fit to measure")
    r.getDouble(0)
  }

  /** The per-setting reference formulation of `Similarity.annCalibration`
    * — one full candidate join + two aggregations per swept setting. The
    * equality oracle for the single-pass rewrite: AnnCalibrationSpec
    * asserts row-for-row equality between the two on the shipped fixture.
    */
  def annCalibrationReference(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val exactRows = cosineTopKFrom(emb).select("p_id", "c_id")
      .as[(Long, Long)].collect()
    val exactLit = exactRows.toSeq.toDF("p_id", "c_id")
    val nExact   = math.max(exactRows.length.toLong, 1L)
    val nVec     = emb.count()
    val nProbes  = exactRows.map(_._1).distinct.length.toLong
    val denom    = math.max(nProbes * (nVec - 1), 1L)

    val cents   = kmeansCentroidsFrom(emb)
    val indexed = ivfAssign(emb, cents)

    def curve(family: String, setting: Int, scored: DataFrame): DataFrame = {
      val nCand = scored.agg(count(lit(1)).as("n_cand"))
      val nHit = rankTopK(scored).select("p_id", "c_id")
        .join(broadcast(exactLit), Seq("p_id", "c_id"))
        .agg(count(lit(1)).as("n_hit"))
      nCand.crossJoin(broadcast(nHit))
        .select(lit(family).as("family"), lit(setting).as("setting"),
          col("n_cand"),
          expr(s"n_cand * 1000000 div $denom").as("cand_frac_micro"),
          expr(s"n_hit * 1000000 div $nExact").as("recall10_micro"))
    }

    val curves =
      IvfSweep.map(p => curve("ivf", p, ivfScored(indexed, cents, p))) ++
      LshSweep.map(p =>
        curve("lsh", p, lshScoredFrom(emb, NumTables, NumPlanes, p))) ++
      ScreenSweep.map(sl => curve("screen", sl, prunedSurvivorsFrom(emb, sl)))
    curves.reduce(_.unionByName(_)).orderBy("family", "setting")
  }
}

object PostingLinesReference {
  import graft.ops.Segments
  import Segments.{withProjected, projectedGeom, sogKt}

  /** Reference-shaped merge: stage pending rows, compute, equi-join back on
    * `segmentid` (sql_to_line.py:230-234), coalescing computed columns in —
    * the staging+update-join form the in-row `PostingLines.merged` is held
    * equal to.
    */
  def mergedViaJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cleaned = Segments.df(spark, sfDir).filter(col("duration") =!= 0)
    val computed = withProjected(cleaned.filter(col("geom").isNull)).select(
      col("segmentid"),
      projectedGeom.as("geom_new"),
      col("len").as("lenm_new"),
      sogKt(col("len"), col("duration")).as("sogkt_new"))
    cleaned
      .join(computed, Seq("segmentid"), "left_outer")
      .withColumn("geom", coalesce(col("geom"), col("geom_new")))
      .withColumn("lenm", coalesce(col("lenm"), col("lenm_new")))
      .withColumn("sogkt", coalesce(col("sogkt"), col("sogkt_new")))
      .drop("geom_new", "lenm_new", "sogkt_new")
  }
}

object DedupReference {
  import graft.ops.Dedup._

  /** De-thresholded banded candidates at DOC level — every band collision
    * with its signature agreement and exact Jaccard, no size prefilter,
    * no agreement floor, no τ cut — the calibration surface behind
    * q_minhash_calibration (mirrors the oracle CTE chain 1:1; the
    * cluster-collapsed layout the production pipeline uses would change
    * the pair COUNTING unit, which is the quantity being calibrated).
    *
    * The self-join is TILE-DECOMPOSED: de-thresholded band buckets are
    * pathologically skewed (measured at sf0.1: one bucket holds 3,847 of
    * 5,000 docs → 7.4M of the 7.6M candidate pairs from a single join
    * key, serialized onto ONE task — and AQE's skew split never fires
    * because it watches input bytes, which are KBs here, not output
    * fan-out). Each doc gets a tile = doc_id mod G; the left side is
    * emitted once per target tile ≥ its own, the right side keyed by its
    * tile, and the join key gains the tile — so a k-doc bucket's k²/2
    * pair generation spreads over up to G(G+1)/2 key groups instead of
    * one. Pairs across tiles appear exactly once (only the lower tile
    * emits up), same-tile pairs twice in opposite orientations —
    * least/greatest + the existing DISTINCT collapse them. Output is
    * provably identical to the naive self-join; per-task work drops from
    * Θ(k²) to Θ(k²/G²) on the hot bucket (measured 8.7 s → ~1.5 s).
    * The sig frame itself is cached: four plan branches read it.
    */
  final val CalibTiles = 64

  /** The doc-level reference formulation of `Dedup.bandedCandidatesAll` —
    * the equality oracle MinhashCalibrationSpec holds the cluster-plane
    * rewrite to.
    */
  def bandedCandidatesAllReference(s: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        array_sort(transform(dtoks, t => poly_hash(t))).as("th"))
      .withColumn("sig", minhashSigsOf(col("th")))
      .cache()
    // band key as the raw 8-long slice — equality on long arrays is
    // equivalent to equality of the oracle's comma-joined rendering and
    // skips per-row string building in the join
    val bandKeysArr = transform(sequence(lit(0), lit(NumBands - 1)), b =>
      slice(col("sig"), b * BandRows + 1, lit(BandRows)))
    val bandRows = docs.select(col("doc_id"),
        posexplode(bandKeysArr).as(Seq("band", "key")))
      .withColumn("tile", pmod(col("doc_id"), lit(CalibTiles)).cast("int"))
    val left = bandRows.select(col("doc_id"), col("band"), col("key"),
      explode(sequence(col("tile"), lit(CalibTiles - 1))).as("t"))
    val right = bandRows.select(col("doc_id").as("d2"),
      col("band").as("band2"), col("key").as("key2"), col("tile").as("t2"))
    val cand = left.hint("SHUFFLE_HASH").join(right,
        col("band") === col("band2") && col("key") === col("key2") &&
          col("t") === col("t2") && col("doc_id") =!= col("d2"))
      .select(least(col("doc_id"), col("d2")).as("d1"),
        greatest(col("doc_id"), col("d2")).as("d2"))
      .distinct()
    val l = docs.select(col("doc_id").as("d1"), col("sig").as("sig1"),
      col("th").as("h1"))
    val r = docs.select(col("doc_id").as("d2"), col("sig").as("sig2"),
      col("th").as("h2"))
    val inter = graft.functions.exprs.intersect_count_sorted(col("h1"), col("h2"))
    cand.join(l, "d1").join(r, "d2")
      .select(col("d1"), col("d2"),
        graft.functions.exprs.count_equal(col("sig1"), col("sig2")).as("sig_agree"),
        inter.as("inter"),
        (size(col("h1")) + size(col("h2")) - inter).as("uni"))
  }
}

object TokenizeReference {
  import graft.ops.Tokenize.WpUnk

  /** Sequential greedy longest-match-first WordPiece segmentation — the
    * application reference the Column fold and the spec pin against.
    */
  def wpGreedySeq(w: String, pieces: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = 0
    while (p < w.length) {
      var ln = w.length - p
      var hit: String = null
      while (ln >= 1 && hit == null) {
        val cand = (if (p > 0) "##" else "") + w.substring(p, p + ln)
        if (pieces(cand)) hit = cand else ln -= 1
      }
      if (hit == null) return Seq(WpUnk)
      out += hit; p += ln
    }
    out.toSeq
  }
}
