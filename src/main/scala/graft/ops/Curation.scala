package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingest and tokenizer output: sequence packing (the GPT-style
  * concatenate-and-split layout), cross-document chunk dedup with document
  * reconstruction (the C4/CCNet line-dedup move), and temperature-based
  * domain mixing (the multinomial source-reweighting of GPT-3/PaLM data
  * recipes, p_s^alpha with alpha < 1 upweighting small domains).
  *
  * All three are oracle-checked cell-exact against DuckDB. The scale
  * posture of each is documented on the operator; the common thread is
  * that nothing here shuffles the corpus more than once and nothing holds
  * unbounded driver or executor state:
  *
  *  - packing needs a GLOBAL ordered prefix sum — the one aggregation
  *    Spark's Window cannot express scalably (an empty partitionSpec
  *    funnels the corpus through one task; PlanShapeSpec forbids it).
  *    It is computed as the classic two-level scan: per-bucket subtotals
  *    (one tiny agg, O(buckets) rows to the driver — the same bounded
  *    model-state class as the k-means centroids), then a per-bucket
  *    intra-window cumsum keyed by bucket. Reference analog: the
  *    reference's per-day batching (sql_to_line.py:113-131) is the same
  *    decomposition keyed on date.
  *  - chunk dedup is keyed end-to-end on chunk content (hash-partition by
  *    the chunk string), so the dedup window state is per-key bounded.
  *  - domain mixing reduces the corpus to one row per source (domain
  *    taxonomy cardinality — bounded by construction, not by data), does
  *    all weight arithmetic on that tiny frame, and re-joins it; the keep
  *    decision is the same overflow-safe integer hash the split/sampling
  *    family uses ([[Sampling.bucket100]]), so membership is reproducible
  *    and cross-engine exact.
  */
object Curation {

  /** Context window length in tokens for sequence packing. */
  final val Ctx = 512L

  /** Prefix-sum buckets. At 100 TB this is the executor count, not 64 —
    * driver state stays O(buckets) either way.
    */
  final val Buckets = 64L

  /** Tokens per dedup chunk (the "line" analog for the punctuation-free
    * synthetic corpus).
    */
  final val ChunkLen = 8

  /** Boilerplate document-frequency threshold: a chunk appearing in at
    * least this many DISTINCT documents is template text (navigation,
    * footers, license blurbs) and is stripped from EVERY document —
    * including the first occurrence, which is what separates boilerplate
    * REMOVAL from first-occurrence chunk DEDUP (q_chunk_dedup keeps one
    * copy; a template deserves zero). 3 is the smallest df that cannot be
    * a single near-dup pair.
    */
  final val BoilMinDf = 3

  /** Mixing temperature: weight_s ∝ p_s^Alpha. 0.5 = sqrt — chosen over a
    * general pow() because IEEE-754 requires sqrt to be correctly rounded,
    * so both engines compute bit-identical weights (pow is not so
    * guaranteed).
    */
  final val Alpha = 0.5

  /** Target corpus fraction after mixing. */
  final val MixTarget = 0.5

  /** Max documents any one domain may contribute (q_domain_caps). */
  final val DomainCap = 15L

  /** Token budget the epoch scheduler allocates (q_epoch_schedule). */
  final val EpochBudget = 500000L

  /** doc_id, n_tok, and the bucket id for the two-level prefix sum. Bucket
    * width derives from max(doc_id) (one 1-row agg job) so ids spread
    * evenly over [[Buckets]] contiguous ranges — contiguity is what makes
    * per-bucket offsets + intra-bucket cumsum equal the global ordered
    * prefix sum.
    */
  private def withPid(s: SparkSession, dir: String): (DataFrame, Long) = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val maxId = base.agg(max("doc_id")).head.getLong(0)
    val width = maxId / Buckets + 1
    (base.withColumn("pid", expr(s"doc_id div $width")), width)
  }

  /** Global exclusive prefix sum of per-doc token counts in doc_id order,
    * without a global window: per-bucket totals → driver cumsum (O(buckets)
    * rows, the accepted bounded-model-state class) → broadcast-joined back
    * as each bucket's base offset + a bucket-keyed window for the
    * intra-bucket part. Exactly one corpus shuffle (the pid/window
    * exchange); the offsets side is [[Buckets]] rows, AQE broadcasts it.
    */
  private[graft] def packedStarts(s: SparkSession, dir: String): DataFrame =
    packedStartsFrom(withPid(s, dir)._1.drop("pid"))

  /** [[packedStarts]] over an explicit (doc_id, n_tok) frame — the same
    * two-level scan, bucketed by max(doc_id)/[[Buckets]] ranges of the
    * frame's own id domain.
    */
  private[graft] def packedStartsFrom(frame: DataFrame): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    val maxId = frame.agg(max("doc_id")).head.getLong(0)
    val width = maxId / Buckets + 1
    val base  = frame.withColumn("pid", expr(s"doc_id div $width"))
    val sums = base.groupBy("pid").agg(sum("n_tok").as("mass"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pids = sums.keys.toSeq.sorted
    val offsets = pids.zip(
      pids.scanLeft(0L)((acc, p) => acc + sums(p)).dropRight(1))
    val offDf = offsets.toDF("pid", "base_off")
    val w = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(offDf, "pid")
      .withColumn("start_tok",
        coalesce(sum("n_tok").over(w), lit(0L)) + col("base_off"))
  }

  /** Cross-document chunk dedup + reconstruction over an explicit
    * (doc_id, text) frame: the q_chunk_dedup kernel, shared with the
    * composed pipeline (Pipeline.pipelineFull). Output: doc_id, n_kept,
    * text_kept — documents whose every chunk was seen earlier vanish.
    */
  private[graft] def chunkDedupFrom(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val chunks = docs
      .select(col("doc_id"), toks.as("toks"),
        ceil(size(toks) / lit(ChunkLen.toDouble)).cast("int").as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          f => concat_ws(" ", slice(col("toks"), f * ChunkLen + 1, lit(ChunkLen)))))
          .as(Seq("chunk_idx", "chunk")))
    val w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    chunks.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("chunk_idx"), col("chunk")))),
          e => e("chunk")), " ").as("text_kept"))
  }

  /** (doc_id, source, chunk_idx, chunk) rows — the q_chunk_dedup chunk
    * alignment over an explicit (doc_id, source, text) frame, shared by
    * the boilerplate faces.
    */
  private[graft] def chunkRows(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), col("source"), toks.as("toks"),
        ceil(size(toks) / lit(ChunkLen.toDouble)).cast("int").as("nc"))
      .select(col("doc_id"), col("source"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          f => concat_ws(" ", slice(col("toks"), f * ChunkLen + 1, lit(ChunkLen)))))
          .as(Seq("chunk_idx", "chunk")))
  }

  /** The boilerplate index: distinct chunks whose corpus-wide document
    * frequency reaches [[BoilMinDf]] — the FROZEN side of the streaming
    * ingest face ([[graft.streaming.Streams]].boilerStripIngest), small by
    * construction (template mass, not corpus mass).
    */
  private[graft] def boilerChunksOf(docs: DataFrame): DataFrame =
    chunkRows(docs).groupBy("chunk")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= BoilMinDf)
      .select("chunk")

  /** Strip every chunk present in `index` from every document in `docs`,
    * reassembling survivors in position order. Every document keeps a row
    * (a fully-template document emits text_clean = '') so the caller sees
    * the strip mass, not a silent vanish. The join is a LEFT probe
    * against the index only — the small template side, never the full
    * df frame (AQE broadcasts it at runtime).
    */
  private[graft] def stripAgainst(index: DataFrame, docs: DataFrame): DataFrame =
    chunkRows(docs)
      .join(index.withColumn("boiler", lit(true)), Seq("chunk"), "left")
      .withColumn("boiler", coalesce(col("boiler"), lit(false)))
      .groupBy("doc_id")
      .agg(min("source").as("source"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        array_join(transform(filter(
          sort_array(collect_list(struct(col("chunk_idx"), col("chunk"),
            col("boiler")))),
          e => !e("boiler")), e => e("chunk")), " ").as("text_clean"))

  /** q_boilerplate_strip kernel: index-build + strip composed over one
    * corpus — df ≥ [[BoilMinDf]] chunks removed from every document.
    */
  private[graft] def boilerplateStripFrom(docs: DataFrame): DataFrame =
    stripAgainst(boilerChunksOf(docs), docs)

  /** Decay state of a frozen boilerplate index: how much template mass
    * has emerged SINCE the freeze that the index cannot strip — the miss
    * class [[graft.streaming.Streams]].boilerStripIngest documents
    * (chunks whose df first crosses [[BoilMinDf]] across later batches).
    */
  final case class BoilerHealth(frozenTemplates: Long,
      missedTemplates: Long, missedDocHits: Long) {
    /** Rebuild when the missed templates reach 20% of the frozen set —
      * integer cross-multiplication, the q_profile_drift gate.
      */
    def needsRebuild: Boolean =
      missedTemplates * 5L > math.max(frozenTemplates, 1L)
  }

  /** Measure a frozen index against the chunk document-frequencies
    * accumulated since the freeze (`seen`: (chunk, ndocs) over all
    * post-freeze ingest). Missed templates = chunks at df ≥ [[BoilMinDf]]
    * in the post-freeze corpus that the frozen index does not carry;
    * `missedDocHits` is their total doc-occurrence mass (how many
    * documents went out with un-stripped template text). One anti-join on
    * the template-sized frames + an O(1)-result aggregate.
    */
  private[graft] def boilerHealth(index: DataFrame,
      seen: DataFrame): BoilerHealth = {
    val missed = seen.filter(col("ndocs") >= BoilMinDf)
      .join(index, Seq("chunk"), "left_anti")
      .agg(count(lit(1)).as("n"), coalesce(sum("ndocs"), lit(0L)).as("hits"))
      .head()
    BoilerHealth(index.count(), missed.getLong(0), missed.getLong(1))
  }

  /** One ingest batch's chunk document-frequencies — the per-trigger
    * delta the decay fold accumulates. Distinct doc count WITHIN the
    * batch; summing across batches equals the corpus df as long as each
    * document arrives in exactly one batch (the append-ingest contract —
    * a redelivered batch needs the GridFold id-replacement wrapper,
    * which [[graft.streaming.Streams]].BoilerFold applies).
    */
  private[graft] def chunkDfOf(docs: DataFrame): DataFrame =
    chunkRows(docs).groupBy("chunk")
      .agg(countDistinct("doc_id").as("ndocs"))

  val queries: Seq[Q] = Seq(

    // Sequence packing: concatenate the corpus in doc_id order and split
    // every Ctx tokens; each document reports the context windows it lands
    // in. The global ordered prefix sum is the two-level scan documented
    // above — the oracle states the same thing as one SQL window cumsum.
    Q("q_seq_pack",
      s"""WITH d AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
         |p AS (
         |  SELECT doc_id, n_tok,
         |         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS start_tok
         |  FROM d)
         |SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok, start_tok,
         |       start_tok // $Ctx AS seq_first,
         |       (start_tok + n_tok - 1) // $Ctx AS seq_last,
         |       ((start_tok + n_tok - 1) // $Ctx) - (start_tok // $Ctx) + 1
         |         AS n_seqs
         |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      packedStarts(s, dir)
        .withColumn("seq_first", expr(s"start_tok div $Ctx"))
        .withColumn("seq_last", expr(s"(start_tok + n_tok - 1) div $Ctx"))
        .select(col("doc_id"), col("n_tok"), col("start_tok"),
          col("seq_first"), col("seq_last"),
          (col("seq_last") - col("seq_first") + 1L).as("n_seqs"))
        .orderBy("doc_id")
    },

    // Cross-document chunk dedup + reconstruction: split each document
    // into ChunkLen-token chunks, keep only the FIRST occurrence of each
    // distinct chunk corpus-wide (first = smallest (doc_id, chunk_idx)),
    // and reassemble every document from its surviving chunks. Documents
    // whose every chunk was seen earlier vanish — that is the point of the
    // operator (C4 removes fully-duplicated pages the same way). The dedup
    // window is keyed by chunk content: per-key state, no global ordering.
    Q("q_chunk_dedup",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, f AS chunk_idx,
         |         array_to_string(list_slice(toks,
         |           f * $ChunkLen + 1, f * $ChunkLen + $ChunkLen), ' ') AS chunk
         |  FROM t, range(0, 256) r(f)
         |  WHERE f < CAST(ceil(len(toks) / $ChunkLen.0) AS BIGINT)),
         |k AS (
         |  SELECT doc_id, chunk_idx, chunk,
         |         row_number() OVER (PARTITION BY chunk
         |                            ORDER BY doc_id, chunk_idx) AS rn
         |  FROM c)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |       string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_kept
         |FROM k WHERE rn = 1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      chunkDedupFrom(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Temperature-based domain mixing: per-source multinomial weights
    // w_s ∝ p_s^0.5, converted to a per-source deterministic sampling rate
    // targeting MixTarget of the corpus, applied with the reproducible
    // integer hash (same membership on re-ingest; same decision in both
    // engines). All weight math happens on the source-cardinality frame;
    // the corpus sees one narrow hash filter + one small-side join.
    // rate is snapped to 6 decimals BEFORE the keep threshold so the
    // boundary both engines compare against is the same 6-decimal value
    // (sqrt is IEEE-exact; the sum over sources is ordered identically by
    // neither engine, so the raw double may differ in the last ulp).
    Q("q_domain_mix_temp",
      s"""WITH s AS (
         |  SELECT source, count(*) AS n FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nd FROM s),
         |w AS (SELECT source, n, sqrt(n / nd) AS wgt FROM s, tot),
         |z AS (SELECT sum(wgt) AS zsum FROM w),
         |r AS (
         |  SELECT source, n,
         |         round(least(1.0, (wgt / zsum) * $MixTarget * nd / n), 6)
         |           AS rate
         |  FROM w, z, tot)
         |SELECT d.source, CAST(min(r.n) AS BIGINT) AS n_docs,
         |       min(r.rate) AS rate,
         |       CAST(count(CASE WHEN ${Sampling.bucket100Sql("d.doc_id")}
         |                        < r.rate * 100 THEN 1 END) AS BIGINT)
         |         AS n_kept
         |FROM documents d JOIN r ON d.source = r.source
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val srcCounts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      // single-row aggregates: pinned broadcast is the allowlisted class
      // (PlanShapeSpec) — a 1-row frame is scale-invariant by construction
      val tot = srcCounts.agg(sum("n").cast("double").as("nd"))
      val wgt = srcCounts.crossJoin(broadcast(tot))
        .withColumn("wgt", sqrt(col("n") / col("nd")))
      val z = wgt.agg(sum("wgt").as("zsum"))
      val rates = wgt.crossJoin(broadcast(z))
        .withColumn("rate", round(
          least(lit(1.0), col("wgt") / col("zsum") * lit(MixTarget)
            * col("nd") / col("n")), 6))
        .select(col("source"), col("n"), col("rate"))
      docs.join(rates, "source")
        .groupBy("source")
        .agg(min("n").as("n_docs"), min("rate").as("rate"),
          count(when(Sampling.bucket100(col("doc_id"))
            < col("rate") * 100, 1)).as("n_kept"))
        .orderBy("source")
    },

    // Per-domain document cap — the other half of domain mixing: where
    // q_domain_mix_temp reweights by SAMPLING rate, the cap bounds any one
    // domain's absolute contribution (Common-Crawl curation caps
    // spam-heavy hosts the same way). Rank within each source by
    // (n_chars DESC, doc_id ASC) — longest-first, id tiebreak keeps the
    // rank total — and keep the top [[DomainCap]]. Scale shape: one
    // source-keyed exchange; the per-key work is a spillable sort (no
    // per-key memory state), and a pathological mega-domain is exactly the
    // per-key-top-k case the typed TopKAgg partial aggregator (functions/
    // TopK) solves — partial top-Cap per partition, merge Cap-sized heaps —
    // documented as the skew escape hatch rather than declared, because
    // the declared output ranks EVERY row, not just survivors.
    Q("q_domain_caps",
      s"""SELECT doc_id, source, n_chars,
         |       CAST(row_number() OVER (PARTITION BY source
         |              ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk,
         |       (row_number() OVER (PARTITION BY source
         |              ORDER BY n_chars DESC, doc_id) <= $DomainCap) AS kept
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val byDomain = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          row_number().over(byDomain).cast("long").as("rnk"))
        .withColumn("kept", col("rnk") <= DomainCap)
        .orderBy("doc_id")
    },

    // EPOCH SCHEDULE — the token-budget allocator that turns a temperature
    // mix into concrete per-source repeat counts: given a total training
    // budget of [[EpochBudget]] tokens, allocate proportionally to
    // sqrt(available tokens) (the alpha = 0.5 temperature — same rationale
    // as q_domain_mix_temp: sqrt is IEEE-correctly-rounded so both engines
    // compute bit-identical weights, unlike pow), then express each
    // source's allocation as an epoch count (ceil of allocation over
    // availability — epochs > 1 means the source is oversampled/repeated,
    // the data-constrained regime; < 1 means subsampled). All arithmetic
    // after the one sqrt snap is exact int64: weights in micro units,
    // allocations by trunc division, the ceil as (a + c - 1) div c.
    // Scale shape: one corpus pass to per-source token counts, then the
    // whole schedule lives on the |sources|-row frame.
    Q("q_epoch_schedule",
      s"""WITH tokc AS (
         |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
         |  FROM documents GROUP BY 1),
         |wt AS (
         |  SELECT source, c,
         |         CAST(round(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS w
         |  FROM tokc),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM wt)
         |SELECT source, c, w,
         |       CAST($EpochBudget * w // sw AS BIGINT) AS alloc_toks,
         |       CAST(($EpochBudget * w // sw + c - 1) // c AS BIGINT) AS epochs
         |FROM wt CROSS JOIN tot ORDER BY source""".stripMargin) { (s, dir) =>
      val tokc = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("c"))
      val wt = tokc.select(col("source"), col("c"),
        round(sqrt(col("c").cast("double")) * 1000000).cast("long").as("w"))
      val tot = wt.agg(sum("w").as("sw")) // single-row total
      wt.crossJoin(broadcast(tot))
        .select(col("source"), col("c"), col("w"),
          expr(s"$EpochBudget * w div sw").as("alloc_toks"),
          expr(s"($EpochBudget * w div sw + c - 1) div c").as("epochs"))
        .orderBy("source")
    },

    // BOILERPLATE STRIP — the REMOVER for the detector the dedup plane
    // already ships (q_dedup_savings_curve's high-n_occ tail and
    // q_dup_ratio_by_source both point AT template mass; this operator
    // takes it OUT). A chunk whose corpus-wide document frequency reaches
    // BoilMinDf is template text and is removed from every document —
    // first occurrence included, the semantic line between boilerplate
    // removal (CCNet strips repeated paragraphs wholesale) and
    // q_chunk_dedup's keep-first dedup. Deliberately RAW text (positional
    // plane, like winnowing/dup-spans: offsets stay meaningful for
    // provenance); the canonicalized identity planes catch the
    // formatting-variant twins. Scale shape: one content-keyed groupBy
    // for df, one content-keyed join back, one doc-keyed aggregate —
    // the exact q_chunk_dedup shuffle budget, no all-pairs anywhere.
    Q("q_boilerplate_strip",
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, f AS chunk_idx,
         |         array_to_string(list_slice(toks,
         |           f * $ChunkLen + 1, f * $ChunkLen + $ChunkLen), ' ') AS chunk
         |  FROM t, range(0, 256) r(f)
         |  WHERE f < CAST(ceil(len(toks) / $ChunkLen.0) AS BIGINT)),
         |df AS (SELECT chunk, count(DISTINCT doc_id) AS ndocs
         |       FROM c GROUP BY 1),
         |m AS (SELECT c.*, (ndocs >= $BoilMinDf) AS boiler
         |      FROM c JOIN df USING (chunk))
         |SELECT doc_id, min(source) AS source,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(*) FILTER (boiler) AS BIGINT) AS n_boiler,
         |       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
         |                  FILTER (WHERE NOT boiler), '') AS text_clean
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      boilerplateStripFrom(Tables.documents(s, dir)).orderBy("doc_id")
    }
  )
}
