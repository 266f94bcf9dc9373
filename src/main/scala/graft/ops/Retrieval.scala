package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Observed, Q, Tables}

/** Corpus retrieval operators: Okapi BM25 scoring (Robertson–Spärck Jones;
  * the k1/b form from Robertson & Zaragoza 2009) and the inverted-index
  * posting-list build behind it. Both are staple corpus-quality tools in a
  * training-data pipeline (query-based eval-set mining, contamination
  * probes, boilerplate hunting) and both are oracle-checked cell-exact.
  *
  * Scale posture:
  *  - the BM25 term-frequency frame is filtered to the QUERY terms before
  *    anything shuffles — the corpus contributes O(docs × |query|) rows,
  *    never its full token stream; document length rides along in the
  *    grouping key (one corpus shuffle), the df/idf frame is |query| rows
  *    and the corpus-statistics frame is one row (both pinned broadcasts
  *    of the allowlisted bounded class); the final top-k plans as
  *    TakeOrderedAndProject, never a global sort.
  *  - the posting build keeps per-term state bounded: full posting lists
  *    stream to a term-partitioned sink at scale, so the VERIFIABLE
  *    surface here materializes per-term df/cf plus only the HEAD of each
  *    posting list (first [[PostingHead]] doc_ids), selected by a
  *    term-keyed row_number — the collected array is capped by
  *    construction, the per-key top-k move, not a collect-then-slice.
  *
  * Cross-engine exactness: tf, df, dl are integers; the only libm call is
  * ln() in idf (not correctly-rounded-guaranteed across libms), so the
  * final score is snapped to 6 decimals in BOTH engines and the top-k
  * ORDER BY compares the snapped value with doc_id as the tiebreak.
  */
object Retrieval {

  /** Fixed probe query for the oracle-checked surface. */
  final val QueryTerms = Seq("join", "window", "stream")

  final val K1 = 1.2
  final val B  = 0.75
  final val TopK = 20

  /** Posting-list head length for the verifiable surface. */
  final val PostingHead = 16


  /** Fixed phrase probes for q_phrase_search (3-term phrases present in
    * the fixture corpus at varying frequencies).
    */
  final val PhraseList = Seq("slow hash batch", "row column sort",
    "stream table hash", "window fast query", "part filter scan")

  /** RRF constant (Cormack, Clarke & Buettcher 2009's k = 60). */
  final val RrfK = 60

  /** Candidate-set width of the composed retrieval pipeline
    * (q_retrieval_full): wider than the serving [[TopK]] so the dense
    * re-rank has headroom to reorder past the lexical cut.
    */
  final val CandK = 32

  /** RBO truncation depth and persistence (q_rbo_rankings). */
  final val RboDepth = 10
  final val RboP     = 0.9

  /** Probe-batch width of the batch serving path (q_retrieval_batch) and
    * the per-probe query width mined from each probe document. The probe
    * batch is GlobalLimit-capped in the plan (the Similarity.probeBatch
    * contract), so every frame derived from it — per-probe terms, the
    * distinct term set, probe embeddings — is bounded BY CONSTRUCTION at
    * any corpus size.
    */
  final val RbProbes = 8
  final val RbTerms  = 3

  /** Per-depth RBO weight (1−p)·p^(d−1)/d, PRE-SCALED to micro units —
    * computed once, embedded as the identical round-trip double literal
    * in both engines, so each term is one multiply+round on an exact
    * integer agreement count.
    */
  private[graft] def rboWeight(d: Int): Double =
    (1.0 - RboP) * math.pow(RboP, d - 1) / d * 1000000.0

  /** Probe vector id for the hybrid-retrieval query. */
  final val ProbeId = 0L

  private def termsSql = QueryTerms.mkString("('", "', '", "')")

  /** The full (tok, doc_id, tf) postings frame — the inverted-index build
    * (at 100 TB written ONCE, term-partitioned; see the postings-layout
    * probe in SCALING.md).
    */
  private[graft] def postingsFrom(docs: DataFrame): DataFrame =
    // spread: token explode + map-side tf aggregation live in the scan
    // stage — serialized by the single-row-group fixture file otherwise
    Tables.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))

  /** Per-document token lengths (doc_id, dl) — the doc-stats sidecar of
    * the postings index.
    */
  private[graft] def docLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))

  /** (doc_id, dl, tok, tf) for query terms only — the array-level filter
    * runs before explode, so non-query tokens never leave the scan
    * projection.
    */
  private def tfFrameFrom(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), size(toks).as("dl"),
        explode(filter(toks, t => t.isInCollection(QueryTerms))).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
  }

  /** The one-row (n, sumdl, avgdl) statistics of a (doc_id, dl) frame. */
  private def corpusStats(dls: DataFrame): DataFrame =
    dls.agg(count(lit(1)).as("n"), sum("dl").cast("double").as("sumdl"))
      .withColumn("avgdl", col("sumdl") / col("n"))

  /** idf over (n, df) and one (doc, term)'s score part over
    * (idf, tf, dl, avgdl) — the two halves of the BM25 formula.
    */
  private val idf: Column =
    log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
  private val bm25Part: Column =
    col("idf") * col("tf") * (lit(K1) + 1) /
      (col("tf") + lit(K1) * (lit(1) - lit(B)
        + lit(B) * col("dl") / col("avgdl")))

  /** (doc_id, dl, tok, tf) rows scored against their term's df over `tf`
    * and the corpus `stats`, both bounded broadcasts (a row per scored
    * term, one row): adds idf and part.
    */
  private def bm25Parts(tf: DataFrame, stats: DataFrame): DataFrame =
    tf.join(broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df"))), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf", idf).withColumn("part", bm25Part)

  /** Reciprocal-rank fusion of two rank columns; a missing rank adds 0. */
  private def rrf(a: String, b: String): Column =
    Seq(a, b).map(r => coalesce(lit(1.0) / (lit(RrfK) + col(r)), lit(0.0)))
      .reduce(_ + _)

  /** The pinned probe's (pemb, pn) row of a [[Similarity.withNorm]] frame. */
  private def pinnedProbe(nv: DataFrame): DataFrame =
    nv.filter(col("vec_id") === ProbeId)
      .select(col("embedding").as("pemb"), col("nrm").as("pn"))

  /** BM25-scored (doc_id, score) SQL over an arbitrary documents-shaped
    * table — the core of [[bm25Sql]], and the candidate stage of the
    * composed retrieval script (q_retrieval_full).
    */
  private def bm25ScoredSql(tbl: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |         string_split(text, ' ') AS toks
       |  FROM $tbl),
       |stats AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM d),
       |tf AS (
       |  SELECT doc_id, dl, tok, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  WHERE tok IN $termsSql GROUP BY doc_id, dl, tok),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
       |SELECT doc_id,
       |       round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
       |                 * tf * ($K1 + 1)
       |                 / (tf + $K1 * (1 - $B + $B * dl / avgdl))), 6)
       |         AS score
       |FROM tf JOIN df USING (tok), stats
       |GROUP BY doc_id""".stripMargin

  /** BM25 top-k SQL — also embedded as a subquery by the fusion oracle. */
  private def bm25Sql: String =
    s"""${bm25ScoredSql("documents")}
       |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin

  /** BM25 top-k frame (doc_id, score) over an explicit documents frame —
    * shared by the declared query, the RRF fusion, and the composed
    * retrieval pipeline's candidate stage.
    */
  private[graft] def bm25TopKFrom(docs: DataFrame, k: Int): DataFrame = {
    bm25Parts(tfFrameFrom(docs), corpusStats(docLengths(docs)))
      .groupBy("doc_id").agg(round(sum("part"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  private def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopKFrom(Tables.documents(s, dir), TopK)

  /** WAND-style two-phase pruned BM25 over a postings index (Broder et
    * al. 2003's upper-bound idea, reshaped for batch): the per-term score
    * contribution is bounded by ub(t) = idf(t)·(k1+1) (the tf→∞ limit of
    * the saturation term), so a document's score is bounded by the sum of
    * ub over its MATCHED terms — computable from the slim postings alone,
    * no document lengths, no text.
    *
    *   phase 0: per-doc ub-sums from the query terms' postings only;
    *   phase 1: exact-score the TopK docs by ub-sum (a bounded seed set;
    *            its k-th exact score is the pruning threshold θ — one
    *            TopK-row collect, the bounded model-state class);
    *   phase 2: exact-score ONLY docs with ub-sum ≥ θ − 1e-6 (the guard
    *            covers the round-6 score snapping), take the top k.
    *
    * Exactness: score ≤ ubsum per doc, and every seed doc's ubsum ≥ θ
    * (k-th best exact ≤ k-th best ubsum = the seed's minimum), so the
    * seed survives its own filter and any pruned doc is strictly beaten
    * by ≥ k candidates — the output EQUALS plain BM25 top-k, which is
    * exactly what the declared query's oracle (the unpruned bm25Sql)
    * verifies cell-exact. At 100 TB the win is twofold: the expensive
    * scoring join (postings ⋈ doc-lengths, the dl normalization) runs
    * over the candidate fraction only, and the postings read is an
    * index LOOKUP — term-partitioned storage prunes to |query| partitions
    * (measured in SCALING.md) instead of re-deriving tf from a full text
    * scan per query.
    */
  private[graft] def bm25PrunedFrom(postings: DataFrame,
      dls: DataFrame): DataFrame = bm25PrunedWithCandidates(postings, dls)._1

  /** [[bm25PrunedFrom]] plus the candidate frame it scored, whose size is
    * the pruning fraction.
    */
  private[graft] def bm25PrunedWithCandidates(postings: DataFrame,
      dls: DataFrame): (DataFrame, DataFrame) = {
    // index lookup: only the query terms' postings leave the scan; the
    // checkpoint materializes the (≤ docs × |query|)-row frame once for
    // its four downstream uses
    val qp = postings.filter(col("tok").isInCollection(QueryTerms))
      .localCheckpoint()
    val stats = corpusStats(dls)
    // |query| rows: df → idf → WAND upper bound
    val ub = qp.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", idf)
      .withColumn("ub", col("idf") * (lit(K1) + 1))
    val ubsums = qp.join(broadcast(ub.select("tok", "ub")), "tok")
      .groupBy("doc_id").agg(sum("ub").as("ubsum"))
      .localCheckpoint() // reused by the seed and the candidate filter
    def exactScores(docIds: DataFrame): DataFrame =
      qp.join(docIds, "doc_id")
        .join(broadcast(ub.select("tok", "idf")), "tok")
        .join(dls, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("part", bm25Part)
        .groupBy("doc_id").agg(round(sum("part"), 6).as("score"))
    val seed = ubsums.orderBy(col("ubsum").desc, col("doc_id")).limit(TopK)
    val seedScores = exactScores(seed.select("doc_id"))
      .collect().map(_.getDouble(1)).sorted(Ordering[Double].reverse)
    // fewer matched docs than k → nothing can be pruned away correctly
    val theta =
      if (seedScores.length < TopK) Double.NegativeInfinity
      else seedScores.last
    val cand = ubsums.filter(col("ubsum") >= theta - 1e-6).select("doc_id")
    (exactScores(cand).orderBy(col("score").desc, col("doc_id")).limit(TopK),
      cand)
  }

  /** Attach 1-based ranks to an (already bounded, GlobalLimit-capped)
    * ranked list WITHOUT a window: one single-row collect_list aggregate
    * (the bounded class) sorted by (-score, id), then posexplode. The
    * no-global-window lock stays intact because the input is ≤ TopK rows
    * by construction.
    */
  private def rankOf(df: DataFrame, score: Column, id: Column,
      rankName: String): DataFrame =
    df.agg(sort_array(collect_list(struct(negate(score).as("ns"),
        id.as("id")))).as("l"))
      .select(posexplode(col("l")).as(Seq("p", "e")))
      .select(col("e.id").as("id"), (col("p") + 1).cast("long").as(rankName))

  /** The re-ranks' cosine of an embeddings row (embedding, nrm), from
    * [[Similarity.withNorm]], against a probe (pemb, pn).
    */
  private val cosR: Column =
    Similarity.cosine(col("embedding"), col("nrm"), col("pemb"), col("pn"))

  /** The batch serving pipeline over explicit documents/embeddings frames
    * (q_retrieval_batch's engine). See the declared query's comment for
    * the stage walk.
    */
  private[graft] def retrievalBatchFrom(docsIn: DataFrame,
      emb: DataFrame): DataFrame = {
    import graft.functions.TextNormExprs.normalize_text
    val docsN = docsIn
      .select(col("doc_id"), normalize_text(col("text")).as("text"))
    // probe batch: GlobalLimit-capped by construction
    val probes = docsN.filter(col("doc_id") % 100 === 0)
      .orderBy("doc_id").limit(RbProbes)
      .select(col("doc_id").as("p_id"), col("text"))
    // per-probe query terms (≤ RbProbes·RbTerms rows); the window is
    // p_id-partitioned over the capped probe frame, never the corpus.
    // Checkpointed: feeds the term-set filter AND the score fan-out.
    val pterms = probes
      .select(col("p_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("p_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("p_id").orderBy(col("c").desc, col("tok"))))
      .filter(col("rn") <= RbTerms)
      .select("p_id", "tok")
      .localCheckpoint()
    val termSet = pterms.select("tok").distinct()
    // shared tf build: the ONE corpus-proportional stage — the explode
    // dies against the broadcast term set inside the scan stage
    val toksC = split(col("text"), " ")
    val tf = docsN
      .select(col("doc_id"), size(toksC).as("dl"), explode(toksC).as("tok"))
      .join(broadcast(termSet), "tok")
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val parts = bm25Parts(tf, corpusStats(docLengths(docsN)))
    // per-probe top-CandK via the partial TopKAgg (map-side k-buffers),
    // NOT a per-probe window sort over the corpus
    val topk = udaf(new graft.functions.TopKAgg(CandK))
    val cand = parts.join(broadcast(pterms), "tok")
      .filter(col("doc_id") =!= col("p_id"))
      .groupBy("p_id", "doc_id").agg(round(sum("part"), 6).as("score"))
      .groupBy("p_id").agg(topk(col("score"), col("doc_id")).as("tk"))
      .select(col("p_id"),
        posexplode(arrays_zip(col("tk.cs"), col("tk.ids"))).as(Seq("pos", "z")))
      .select(col("p_id"), col("z.ids").as("id"), col("z.cs").as("score"),
        (col("pos") + 1).cast("long").as("rank_lex"))
      .localCheckpoint() // barrier: ≤ RbProbes·CandK rows feed two branches
    // per-probe exact-cosine re-rank: the candidate list broadcasts INTO
    // the embeddings scan; probe vectors are a ≤ RbProbes-row broadcast
    val nv = Similarity.withNorm(emb)
    val pv = nv.join(broadcast(probes.select("p_id")),
        col("vec_id") === col("p_id"))
      .select(col("p_id").as("pp"), col("embedding").as("pemb"),
        col("nrm").as("pn"))
    val cos = nv.join(broadcast(cand.select("p_id", "id")),
        col("vec_id") === col("id"))
      .join(broadcast(pv), col("p_id") === col("pp"))
      .select(col("p_id"), col("id"), cosR.as("cos_r"))
      .localCheckpoint() // ≤ RbProbes·CandK rows feed rank + value branches
    val cosRank = cos.withColumn("rank_cos", row_number().over(
        Window.partitionBy("p_id").orderBy(col("cos_r").desc, col("id")))
        .cast("long"))
      .select(col("p_id").as("cp"), col("id").as("ci"),
        col("rank_cos"), col("cos_r"))
    cand.join(broadcast(cosRank),
        col("p_id") === col("cp") && col("id") === col("ci"), "left")
      .select(col("p_id"), col("id"), col("rank_lex"), col("rank_cos"),
        col("cos_r"), rrf("rank_lex", "rank_cos").as("rrf"))
      .orderBy(col("p_id"), col("rrf").desc, col("id"))
  }

  val queries: Seq[Q] = Seq(

    // Okapi BM25 top-k: score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    // with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)). One corpus shuffle
    // (the per-doc tf aggregate), two bounded broadcasts, TakeOrdered top-k.
    Q("q_bm25_topk", bm25Sql)(bm25TopK),

    // WAND-pruned BM25 over the postings index (bm25PrunedFrom above).
    // The oracle is deliberately the UNPRUNED bm25Sql: oracle-green IS the
    // proof that two-phase upper-bound pruning changed nothing. The
    // declared form derives the index in-plan (the build cost a real
    // deployment pays once, offline); SCALING.md records the query-time
    // payoff against term-partitioned storage.
    Q("q_bm25_pruned", bm25Sql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      bm25PrunedFrom(postingsFrom(docs), docLengths(docs))
    },

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    // the lexical BM25 top-k and the vector cosine top-k against a fixed
    // probe embedding, full-outer-joined on item id with
    // score = Σ_list 1/(k + rank). Each list is bounded TopK by
    // construction before ranks attach (rankOf — no global window); the
    // probe side is a pinned single-row broadcast (allowlisted class).
    // 1/(k+rank) and the two-term sum are exact IEEE ops in both engines,
    // so the fused score needs no rounding.
    Q("q_rrf_fusion",
      s"""WITH lex AS (
         |  SELECT doc_id AS id,
         |         CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |           AS BIGINT) AS rank_lex
         |  FROM (${bm25Sql.replace("\n", "\n       ")})),
         |nv AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |           AS nrm
         |  FROM embeddings),
         |pv AS (SELECT v, nrm FROM nv WHERE vec_id = $ProbeId),
         |cs AS (
         |  SELECT c.vec_id AS id,
         |         round(list_dot_product(c.v, pv.v) / (c.nrm * pv.nrm), 6)
         |           AS cos_r
         |  FROM nv c, pv WHERE c.vec_id <> $ProbeId),
         |vtop AS (SELECT id, cos_r FROM cs ORDER BY cos_r DESC, id LIMIT $TopK),
         |vec AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY cos_r DESC, id)
         |           AS BIGINT) AS rank_vec
         |  FROM vtop)
         |SELECT coalesce(lex.id, vec.id) AS id, rank_lex, rank_vec,
         |       coalesce(1.0::DOUBLE / ($RrfK + rank_lex), 0)
         |         + coalesce(1.0::DOUBLE / ($RrfK + rank_vec), 0) AS rrf
         |FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
         |ORDER BY rrf DESC, id""".stripMargin) { (s, dir) =>
      val nv = Similarity.withNorm(Tables.embeddings(s, dir))
      val cand = nv.filter(col("vec_id") =!= ProbeId)
        .crossJoin(broadcast(pinnedProbe(nv)))
        .select(col("vec_id").as("id"), cosR.as("cos_r"))
      val vtop = cand.orderBy(col("cos_r").desc, col("id")).limit(TopK)
      val vec = rankOf(vtop, col("cos_r"), col("id"), "rank_vec")
      val lex = rankOf(bm25TopK(s, dir), col("score"), col("doc_id"), "rank_lex")
      lex.join(vec, Seq("id"), "full_outer")
        .select(col("id"), col("rank_lex"), col("rank_vec"),
          rrf("rank_lex", "rank_vec").as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
    },

    // The COMPOSED serving-path pipeline — the retrieval twin of the
    // corpus build (q_pipeline_full): canonicalize → tokenize → BM25
    // candidate generation → exact-cosine re-rank of the candidates
    // against the probe embedding → RRF fusion of the lexical and dense
    // orderings, declared as ONE query. The oracle is a multi-statement
    // temp-table script reusing each stage's proven SQL (the normalize
    // kernel's normalizeSql, the bm25ScoredSql core, q_rrf_fusion's
    // cosine/rank/fusion algebra), so the COMPOSITION is checked
    // cell-exact end to end. The probe's own document is excluded from
    // the candidate corpus (a query must not retrieve itself); docs
    // without an embedding row keep their lexical rank and contribute 0
    // dense mass (left join + coalesce — exercised for real at sf0.1,
    // where 3/5 of documents carry no embedding). Scale shape: the
    // corpus is touched once by the candidate stage (one tf shuffle +
    // TakeOrdered CandK); everything downstream is ≤ CandK rows —
    // localCheckpoint'ed (the pipeline_full lineage-barrier hygiene:
    // the candidate frame feeds the lex-rank AND re-rank branches).
    Q("q_retrieval_full",
      s"""CREATE OR REPLACE TEMP TABLE rf_docs AS
         |  SELECT doc_id, ${graft.functions.TextNorm.normalizeSql("text")} AS text
         |  FROM documents WHERE doc_id <> $ProbeId;
         |CREATE OR REPLACE TEMP TABLE rf_cand AS
         |  ${bm25ScoredSql("rf_docs").replace("\n", "\n  ")}
         |  ORDER BY score DESC, doc_id LIMIT $CandK;
         |CREATE OR REPLACE TEMP TABLE rf_lex AS
         |  SELECT doc_id AS id, score,
         |         CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |           AS BIGINT) AS rank_lex
         |  FROM rf_cand;
         |CREATE OR REPLACE TEMP TABLE rf_cos AS
         |  WITH nv AS (
         |    SELECT vec_id, embedding::DOUBLE[] AS v,
         |           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |             AS nrm
         |    FROM embeddings),
         |  pv AS (SELECT v, nrm FROM nv WHERE vec_id = $ProbeId),
         |  cs AS (
         |    SELECT l.id AS id,
         |           round(list_dot_product(c.v, pv.v) / (c.nrm * pv.nrm), 6)
         |             AS cos_r
         |    FROM rf_lex l JOIN nv c ON c.vec_id = l.id, pv)
         |  SELECT id, cos_r,
         |         CAST(row_number() OVER (ORDER BY cos_r DESC, id)
         |           AS BIGINT) AS rank_cos
         |  FROM cs;
         |SELECT l.id AS id, l.rank_lex, c.rank_cos, c.cos_r,
         |       coalesce(1.0::DOUBLE / ($RrfK + l.rank_lex), 0)
         |         + coalesce(1.0::DOUBLE / ($RrfK + c.rank_cos), 0) AS rrf
         |FROM rf_lex l LEFT JOIN rf_cos c ON c.id = l.id
         |ORDER BY rrf DESC, id""".stripMargin) { (s, dir) =>
      import graft.functions.TextNormExprs.normalize_text
      // stages 1–2: canonical text; tokenization happens inside the
      // candidate stage's split (whitespace terms over canonical text)
      val docsN = Tables.documents(s, dir)
        .filter(col("doc_id") =!= ProbeId)
        .select(col("doc_id"), normalize_text(col("text")).as("text"))
      // stage 3: lexical candidates (barrier: feeds two branches)
      val cand = bm25TopKFrom(docsN, CandK).localCheckpoint()
      val lex = rankOf(cand, col("score"), col("doc_id"), "rank_lex")
      // stage 4: exact-cosine re-rank against the probe embedding
      val nv = Similarity.withNorm(Tables.embeddings(s, dir))
      // the candidate list (≤ CandK rows by LIMIT construction, the
      // allowlisted class) broadcasts INTO the embeddings scan — the
      // corpus-proportional side never shuffles for the re-rank
      // localCheckpoint: cos (≤ CandK rows) feeds the rank AND the value
      // branch — without the barrier each branch re-scans embeddings
      val cos = nv.join(broadcast(lex), col("vec_id") === col("id"))
        .crossJoin(broadcast(pinnedProbe(nv)))
        .select(col("id"), cosR.as("cos_r"))
        .localCheckpoint()
      val cosRank = rankOf(cos, col("cos_r"), col("id"), "rank_cos")
        .join(broadcast(cos), "id")
      // stage 5: RRF over the fused candidate orderings
      lex.join(broadcast(cosRank), Seq("id"), "left")
        .select(col("id"), col("rank_lex"), col("rank_cos"), col("cos_r"),
          rrf("rank_lex", "rank_cos").as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
    },

    // BATCH-PROBE retrieval serving — q_retrieval_full generalized from
    // the pinned ProbeId to a probe BATCH (serving is never single-query):
    // [[RbProbes]] probe documents (doc_id % 100 = 0, GlobalLimit-capped —
    // the Similarity.probeBatch contract), each contributing its own
    // [[RbTerms]]-term query (its top tokens by tf, ties to the smaller
    // token — the deterministic query-mining rule both engines share),
    // then per probe: BM25 candidates (top [[CandK]]), exact-cosine
    // re-rank against the probe's embedding, RRF fusion — one
    // groupBy(probe) wider than the single-probe pipeline at every stage.
    // df/avgdl stay CORPUS statistics (standard IR; the per-probe knob is
    // only which terms score), and each probe's own document is excluded
    // from its candidates. Probes or candidates without an embedding row
    // keep their lexical rank and contribute zero dense mass (left join +
    // coalesce — exercised for real at sf0.1).
    //
    // Scale shape — the plan is probe-count-INDEPENDENT in exchanges:
    // the corpus is touched once by the shared tf build (explode → one
    // broadcast semi-join against the ≤ RbProbes·RbTerms term set → one
    // (doc, tok) shuffle); per-probe scoring fans each matched tf row to
    // the probes requesting that term (Θ(docs × probes sharing a term)
    // ROWS, but the same exchange count at any batch width); the
    // per-probe top-CandK runs as the partial TopKAgg aggregation (map-
    // side k-buffers — never a corpus-per-probe window sort); everything
    // past the checkpoint barrier is ≤ RbProbes·CandK rows.
    Q("q_retrieval_batch",
      s"""CREATE OR REPLACE TEMP TABLE rb_docs AS
         |  SELECT doc_id, ${graft.functions.TextNorm.normalizeSql("text")} AS text
         |  FROM documents;
         |CREATE OR REPLACE TEMP TABLE rb_probes AS
         |  SELECT doc_id AS p_id, text FROM rb_docs
         |  WHERE doc_id % 100 = 0 ORDER BY doc_id LIMIT $RbProbes;
         |CREATE OR REPLACE TEMP TABLE rb_pterms AS
         |  SELECT p_id, tok FROM (
         |    SELECT p_id, tok,
         |           row_number() OVER (PARTITION BY p_id ORDER BY c DESC, tok) AS rn
         |    FROM (SELECT p_id, tok, CAST(count(*) AS BIGINT) AS c
         |          FROM (SELECT p_id, unnest(string_split(text, ' ')) AS tok
         |                FROM rb_probes)
         |          GROUP BY 1, 2))
         |  WHERE rn <= $RbTerms;
         |CREATE OR REPLACE TEMP TABLE rb_d AS
         |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |         string_split(text, ' ') AS toks
         |  FROM rb_docs;
         |CREATE OR REPLACE TEMP TABLE rb_stats AS
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM rb_d;
         |CREATE OR REPLACE TEMP TABLE rb_tf AS
         |  SELECT doc_id, dl, tok, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM rb_d)
         |  WHERE tok IN (SELECT DISTINCT tok FROM rb_pterms)
         |  GROUP BY 1, 2, 3;
         |CREATE OR REPLACE TEMP TABLE rb_df AS
         |  SELECT tok, count(*) AS df FROM rb_tf GROUP BY 1;
         |CREATE OR REPLACE TEMP TABLE rb_cand AS
         |  SELECT p_id, doc_id, score, rank_lex FROM (
         |    SELECT p_id, doc_id, score,
         |           CAST(row_number() OVER (PARTITION BY p_id
         |             ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex
         |    FROM (
         |      SELECT pt.p_id, tf.doc_id,
         |             round(sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
         |                       * tf.tf * ($K1 + 1)
         |                       / (tf.tf + $K1 * (1 - $B + $B * tf.dl / s.avgdl))), 6)
         |               AS score
         |      FROM rb_tf tf JOIN rb_pterms pt ON pt.tok = tf.tok
         |           JOIN rb_df df ON df.tok = tf.tok, rb_stats s
         |      WHERE tf.doc_id <> pt.p_id
         |      GROUP BY 1, 2))
         |  WHERE rank_lex <= $CandK;
         |CREATE OR REPLACE TEMP TABLE rb_cos AS
         |  WITH nv AS (
         |    SELECT vec_id, embedding::DOUBLE[] AS v,
         |           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |             AS nrm
         |    FROM embeddings),
         |  pv AS (SELECT p.p_id, n.v, n.nrm
         |         FROM rb_probes p JOIN nv n ON n.vec_id = p.p_id),
         |  cs AS (
         |    SELECT c.p_id, c.doc_id AS id,
         |           round(list_dot_product(n.v, pv.v) / (n.nrm * pv.nrm), 6)
         |             AS cos_r
         |    FROM rb_cand c JOIN nv n ON n.vec_id = c.doc_id
         |         JOIN pv ON pv.p_id = c.p_id)
         |  SELECT p_id, id, cos_r,
         |         CAST(row_number() OVER (PARTITION BY p_id
         |           ORDER BY cos_r DESC, id) AS BIGINT) AS rank_cos
         |  FROM cs;
         |SELECT l.p_id AS p_id, l.doc_id AS id, l.rank_lex, c.rank_cos, c.cos_r,
         |       coalesce(1.0::DOUBLE / ($RrfK + l.rank_lex), 0)
         |         + coalesce(1.0::DOUBLE / ($RrfK + c.rank_cos), 0) AS rrf
         |FROM rb_cand l LEFT JOIN rb_cos c
         |  ON c.p_id = l.p_id AND c.id = l.doc_id
         |ORDER BY p_id, rrf DESC, id""".stripMargin) { (s, dir) =>
      retrievalBatchFrom(Tables.documents(s, dir), Tables.embeddings(s, dir))
    },


    // RANK-BIASED OVERLAP (Webber et al. 2010) between the exact float
    // cosine ranking and the int8 scalar-quantized ranking for the pinned
    // probe — the top-weighted answer to "how much does quantization
    // PERTURB the ranking" (the recall gate only asks set membership):
    // RBO_min@k = Σ_{d≤k} (1−p)·p^(d−1)·X_d/d with agreement depth
    // X_d = |top-d(cos) ∩ top-d(sq)|, persistence p = 0.9. Determinism:
    // each per-depth weight is precomputed ONCE in Scala (pre-scaled to
    // micro) and embedded as the same round-trip double literal in both
    // engines (the HllEstC pattern), each term is one multiply+round on
    // the exact integer X_d, and the cumulative RBO is an INTEGER sum —
    // no float accumulation order anywhere. Every frame after the two
    // top-k stages is ≤ RboDepth rows: bounded model state, broadcast by
    // construction.
    Q("q_rbo_rankings", {
      val depVals = (1 to RboDepth)
        .map(d => s"($d, ${rboWeight(d)})").mkString(", ")
      s"""WITH nv AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |           AS nrm
         |  FROM embeddings),
         |pv AS (SELECT v, nrm FROM nv WHERE vec_id = $ProbeId),
         |cs AS (
         |  SELECT c.vec_id AS id,
         |         round(list_dot_product(c.v, pv.v) / (c.nrm * pv.nrm), 6)
         |           AS cos_r
         |  FROM nv c, pv WHERE c.vec_id <> $ProbeId),
         |ctop AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY cos_r DESC, id)
         |           AS BIGINT) AS rank_cos
         |  FROM (SELECT id, cos_r FROM cs ORDER BY cos_r DESC, id
         |        LIMIT $RboDepth)),
         |qv AS (
         |  SELECT vec_id,
         |         [greatest(-127, least(127, (CAST(round(embedding[i+1]::DOUBLE * 1000000) AS BIGINT) * 127) // 1000000)) for i in range(64)] AS qv
         |  FROM embeddings),
         |pq AS (SELECT qv FROM qv WHERE vec_id = $ProbeId),
         |qs AS (
         |  SELECT c.vec_id AS id,
         |         CAST(list_sum([c.qv[i+1] * pq.qv[i+1] for i in range(64)])
         |           AS BIGINT) AS dot_q
         |  FROM qv c, pq WHERE c.vec_id <> $ProbeId),
         |qtop AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY dot_q DESC, id)
         |           AS BIGINT) AS rank_sq
         |  FROM (SELECT id, dot_q FROM qs ORDER BY dot_q DESC, id
         |        LIMIT $RboDepth)),
         |f AS (SELECT ctop.id, rank_cos, rank_sq
         |      FROM ctop JOIN qtop ON qtop.id = ctop.id),
         |dep AS (SELECT * FROM (VALUES $depVals) t(d, cm)),
         |xd AS (
         |  SELECT dep.d, dep.cm, CAST(count(f.id) AS BIGINT) AS x_d
         |  FROM dep LEFT JOIN f
         |    ON f.rank_cos <= dep.d AND f.rank_sq <= dep.d
         |  GROUP BY 1, 2),
         |tm AS (SELECT d, x_d,
         |       CAST(round(CAST(cm AS DOUBLE) * x_d) AS BIGINT) AS term_micro
         |       FROM xd)
         |SELECT CAST(a.d AS BIGINT) AS d, a.x_d,
         |       CAST(sum(b.term_micro) AS BIGINT) AS rbo_micro
         |FROM tm a JOIN tm b ON b.d <= a.d
         |GROUP BY a.d, a.x_d ORDER BY d""".stripMargin
    }) { (s, dir) =>
      import graft.functions.exprs.dot_ll
      val nv = Similarity.withNorm(Tables.embeddings(s, dir))
      val ctop = rankOf(
        nv.filter(col("vec_id") =!= ProbeId).crossJoin(broadcast(pinnedProbe(nv)))
          .select(col("vec_id").as("id"), cosR.as("cos_r"))
          .orderBy(col("cos_r").desc, col("id")).limit(RboDepth),
        col("cos_r"), col("id"), "rank_cos")
      val qv = Similarity.sqQuantized(Tables.embeddings(s, dir))
      val pq = qv.filter(col("vec_id") === ProbeId).select(col("qv").as("pqv"))
      val qtop = rankOf(
        qv.filter(col("vec_id") =!= ProbeId).crossJoin(broadcast(pq))
          .select(col("vec_id").as("id"),
            dot_ll(col("qv"), col("pqv")).as("dot_q"))
          .orderBy(col("dot_q").desc, col("id")).limit(RboDepth),
        col("dot_q"), col("id"), "rank_sq")
      val f = ctop.join(qtop, Seq("id"))
      import s.implicits._
      val dep = (1 to RboDepth).map(d => (d, rboWeight(d))).toDF("d", "cm")
      val tm = broadcast(dep)
        .join(broadcast(f),
          col("rank_cos") <= col("d") && col("rank_sq") <= col("d"), "left")
        .groupBy("d", "cm").agg(count(col("id")).as("x_d"))
        .select(col("d"), col("x_d"),
          round(col("cm") * col("x_d")).cast("long").as("term_micro"))
      val tb = tm.select(col("d").as("xd"), col("term_micro").as("xt"))
      tm.join(broadcast(tb), col("xd") <= col("d"))
        .groupBy("d", "x_d").agg(sum("xt").as("rbo_micro"))
        .select(col("d").cast("long").as("d"), col("x_d"), col("rbo_micro"))
        .orderBy("d")
    },

    // PER-PROBE RBO across the whole probe batch — q_rbo_rankings
    // generalized from the pinned probe to every probe of the proven
    // top-k contract (Similarity.probeBatch), making the quantization-
    // drift metric CORPUS-WIDE: one RBO_min@k curve per probe, so skewed
    // perturbation (most probes unharmed, a few rankings scrambled)
    // becomes visible where the single-probe metric and the set-only
    // recall gate are both blind. Same determinism skeleton — exact
    // integer agreement depths X_d on the two hash-proven rankings
    // (q_cosine_topk / q_sq_topk), per-depth weights precomputed micro
    // literals, one multiply+round per term, integer cumulative sum; the
    // cumsum is a p_id-PARTITIONED window (the global-window lock does
    // not apply). Scale shape: everything downstream of the two top-k
    // stages is ≤ probes×k rows — the probe batch is GlobalLimit-capped
    // by construction, so the per-probe frames are bounded model state.
    Q("q_rbo_per_probe", {
      val depVals = (1 to RboDepth)
        .map(d => s"($d, ${rboWeight(d)})").mkString(", ")
      s"""WITH n AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |           AS nrm
         |  FROM embeddings),
         |p AS (SELECT * FROM n WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 1024),
         |d0 AS (
         |  SELECT p.vec_id AS p_id, c.vec_id AS c_id,
         |         round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cos_r
         |  FROM p, n c WHERE c.vec_id <> p.vec_id),
         |ctop AS (
         |  SELECT p_id, c_id, rank_cos FROM (
         |    SELECT p_id, c_id, row_number() OVER (PARTITION BY p_id
         |             ORDER BY cos_r DESC, c_id) AS rank_cos
         |    FROM d0)
         |  WHERE rank_cos <= $RboDepth),
         |qv AS (
         |  SELECT vec_id,
         |         [greatest(-127, least(127, (CAST(round(embedding[i+1]::DOUBLE * 1000000) AS BIGINT) * 127) // 1000000)) for i in range(64)] AS qv
         |  FROM embeddings),
         |pq AS (SELECT * FROM qv WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 1024),
         |dq AS (
         |  SELECT pq.vec_id AS p_id, c.vec_id AS c_id,
         |         CAST(list_sum([pq.qv[i+1] * c.qv[i+1] for i in range(64)])
         |           AS BIGINT) AS dot_q
         |  FROM pq, qv c WHERE c.vec_id <> pq.vec_id),
         |qtop AS (
         |  SELECT p_id, c_id, rank_sq FROM (
         |    SELECT p_id, c_id, row_number() OVER (PARTITION BY p_id
         |             ORDER BY dot_q DESC, c_id) AS rank_sq
         |    FROM dq)
         |  WHERE rank_sq <= $RboDepth),
         |f AS (
         |  SELECT ctop.p_id, ctop.c_id, rank_cos, rank_sq
         |  FROM ctop JOIN qtop
         |    ON qtop.p_id = ctop.p_id AND qtop.c_id = ctop.c_id),
         |dep AS (SELECT * FROM (VALUES $depVals) t(d, cm)),
         |pb AS (SELECT DISTINCT p_id FROM ctop),
         |xd AS (
         |  SELECT pb.p_id, dep.d, dep.cm, CAST(count(f.c_id) AS BIGINT) AS x_d
         |  FROM pb CROSS JOIN dep
         |  LEFT JOIN f ON f.p_id = pb.p_id
         |             AND f.rank_cos <= dep.d AND f.rank_sq <= dep.d
         |  GROUP BY 1, 2, 3),
         |tm AS (
         |  SELECT p_id, d, x_d,
         |         CAST(round(CAST(cm AS DOUBLE) * x_d) AS BIGINT) AS term_micro
         |  FROM xd)
         |SELECT p_id, CAST(d AS BIGINT) AS d, x_d,
         |       CAST(sum(term_micro) OVER (PARTITION BY p_id ORDER BY d)
         |         AS BIGINT) AS rbo_micro
         |FROM tm ORDER BY p_id, d""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val c = Similarity.cosineTopK(s, dir)
        .select(col("p_id"), col("c_id"), col("rank").as("rank_cos"))
      val q = Similarity.sqTopK(s, dir)
        .select(col("p_id").as("qp"), col("c_id").as("qc"),
          col("rank").as("rank_sq"))
      val f = c.join(q, col("qp") === col("p_id") && col("qc") === col("c_id"))
        .select(col("p_id").as("fp"), col("c_id"),
          col("rank_cos"), col("rank_sq"))
      val dep = (1 to RboDepth).map(d => (d, rboWeight(d))).toDF("d", "cm")
      val xd = c.select("p_id").distinct()
        .crossJoin(broadcast(dep))
        .join(f, col("fp") === col("p_id")
          && col("rank_cos") <= col("d") && col("rank_sq") <= col("d"), "left")
        .groupBy("p_id", "d", "cm").agg(count(col("c_id")).as("x_d"))
      val tm = xd.select(col("p_id"), col("d"), col("x_d"),
        round(col("cm") * col("x_d")).cast("long").as("term_micro"))
      val w = Window.partitionBy("p_id").orderBy("d")
      tm.select(col("p_id"), col("d").cast("long").as("d"), col("x_d"),
          sum("term_micro").over(w).as("rbo_micro"))
        .orderBy("p_id", "d")
    },

    // Inverted-index posting build, verifiable surface: per term the df
    // (posting length), cf (corpus frequency), and the posting-list HEAD —
    // the first PostingHead doc_ids by a term-keyed row_number, so the
    // collected array is bounded by construction. (At 100 TB the full
    // postings write straight to a term-partitioned sink; collecting a
    // whole posting line into one array row would recreate the hot-key
    // problem this layout avoids.) The head serializes as a comma-joined
    // STRING on both engines: the driver comparator hashes after a pandas
    // sort, which cannot factorize a raw list column, so scalar columns
    // are the only comparator-safe surface — semantics unchanged.
    Q("q_inverted_postings",
      s"""WITH g AS (
         |  SELECT tok, doc_id, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY tok, doc_id)
         |SELECT tok, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(tf) AS BIGINT) AS cf,
         |       array_to_string(
         |         list_slice(list(doc_id ORDER BY doc_id), 1, $PostingHead),
         |         ',') AS head_postings
         |FROM g GROUP BY tok ORDER BY tok""".stripMargin) { (s, dir) =>
      val g = postingsFrom(Tables.documents(s, dir))
      val stats = g.groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      val heads = g
        .withColumn("rn",
          row_number().over(Window.partitionBy("tok").orderBy("doc_id")))
        .filter(col("rn") <= PostingHead)
        .groupBy("tok")
        .agg(array_join(sort_array(collect_list("doc_id")), ",")
          .as("head_postings"))
      stats.join(heads, "tok").orderBy("tok")
    },

    // All-pairs sparse TF-IDF cosine similarity ≥ 0.8 over BIGRAM
    // features, via the inverted-index join (Elsayed, Lin & Oard 2008,
    // "Pairwise document similarity in large collections with MapReduce"):
    // postings self-join on feature → partial dot products — candidate
    // work is Σ_f df(f)², bounded per feature by the df cap (features in
    // more than N/4 docs are stopword-dropped, the standard move that also
    // kills the quadratic hot keys). NO crossJoin anywhere: docs that
    // share no rare feature never meet. Cross-engine exactness: tf and df
    // are integers, idf snaps to milli-nats on the 916-row FEATURE frame
    // (the LM.scala model-frame rule), weights/dots/norms are exact i64
    // sums, and the τ = 4/5 threshold is decided in 128-bit integer
    // cross-multiplied form — dot²·25 ≥ 16·n1²·n2² — (Spark decimal(38,0),
    // DuckDB HUGEINT), so NO float comparison decides a row's fate.
    Q("q_tfidf_cosine_pairs",
      """WITH nd AS (SELECT count(*) AS n FROM documents),
        |toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(ts)),
        |                               i -> ts[i] || ' ' || ts[i+1])) AS f
        |  FROM toks),
        |tf AS (SELECT doc_id, f, count(*) AS tf FROM bg GROUP BY 1, 2),
        |df AS (SELECT f, count(*) AS df FROM tf GROUP BY 1
        |       HAVING count(*) <= (SELECT n // 4 FROM nd)),
        |w AS (
        |  SELECT tf.doc_id, tf.f,
        |         tf.tf * CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE)
        |                               / df.df) * 1000) AS BIGINT) AS w
        |  FROM tf JOIN df USING (f)),
        |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nsq
        |        FROM w GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(sum(a.w * b.w) AS BIGINT) AS dot
        |  FROM w a JOIN w b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, dot, na.nsq AS n1sq, nb.nsq AS n2sq
        |FROM dots JOIN nrm na ON na.doc_id = d1
        |          JOIN nrm nb ON nb.doc_id = d2
        |WHERE CAST(dot AS HUGEINT) * dot * 25
        |      >= CAST(16 AS HUGEINT) * na.nsq * nb.nsq
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      tfidfCosinePairsFrom(Tables.documents(s, dir))
    },

    // Exact phrase search over a POSITIONAL postings index — the
    // capability the head-postings build (q_inverted_postings) cannot
    // answer: which documents contain this exact n-gram, and how often.
    // One (doc_id, pos, tok) positional frame joins the |phrases|×3-row
    // phrase-term frame on tok (bounded literal side — AQE broadcasts);
    // an occurrence is a start position where ALL offsets match
    // (groupBy(phrase, doc, start) HAVING count = len — the classic
    // positional-intersection step, Manning/Raghavan/Schütze IR ch.2).
    // The corpus contributes O(positions matching any phrase term) rows,
    // never its full cross product; counts are exact integers.
    Q("q_phrase_search",
      s"""WITH ph AS (SELECT * FROM (VALUES
         |    ${PhraseList.map(p => s"('$p')").mkString(", ")}) v(phrase)),
         |pt AS (
         |  SELECT phrase, i - 1 AS off, ts[i] AS tok
         |  FROM (SELECT phrase, string_split(phrase, ' ') AS ts FROM ph),
         |       range(1, 4) t(i)),
         |pos AS (
         |  SELECT doc_id, p.pos AS pos, p.tok AS tok
         |  FROM (SELECT doc_id,
         |          unnest([struct_pack(pos := i - 1, tok := ts[i])
         |                  for i in range(1, len(ts) + 1)]) AS p
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ts
         |              FROM documents))),
         |starts AS (
         |  SELECT pt.phrase, pos.doc_id, pos.pos - pt.off AS start
         |  FROM pos JOIN pt ON pt.tok = pos.tok
         |  WHERE pos.pos - pt.off >= 0
         |  GROUP BY 1, 2, 3 HAVING count(*) = 3)
         |SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_occ
         |FROM starts GROUP BY 1, 2
         |ORDER BY phrase, doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pt = PhraseList.flatMap { p =>
        p.split(" ").zipWithIndex.map { case (t, i) => (p, i, t) }
      }.toDF("phrase", "off", "tok")
      val pos = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      pos.join(pt, "tok")
        .select(col("phrase"), col("doc_id"), (col("pos") - col("off")).as("start"))
        .filter(col("start") >= 0)
        .groupBy("phrase", "doc_id", "start").agg(count(lit(1)).as("k"))
        .filter(col("k") === 3)
        .groupBy("phrase", "doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("phrase", "doc_id")
    }
  )


  /** The sparse tf-idf cosine pair pipeline over an explicit documents
    * frame — see q_tfidf_cosine_pairs.
    *
    * Hot-path engineering (profiled at sf0.1, 36.5M candidate partials /
    * 10.3M distinct pairs): the postings self-join on the bigram `f` runs
    * as a SHUFFLED HASH join. Sort-merge on the dense key paid a
    * per-OUTPUT-row buffered re-scan across each equal-key run (df up to
    * ~340 → ~df² buffered iterations per feature) and measured 3.5× slower
    * end to end (27 s → 7.9 s, round 8). The loss was the join strategy,
    * not the string key, so no integer feature id is numbered. The build
    * side per partition is Θ(postings/partitions): no driver state.
    *
    * The declared plan: partial products from the FULL postings self-join
    * reduce straight into per-pair dots. MEASURED DECISION (round 8,
    * sf0.1): this corpus is pathologically pair-dense — 10.3M of 12.5M
    * possible pairs share a df-capped feature — so Bayardo prefix
    * filtering only cuts candidates 19% (10.3M → 8.35M) and ANY
    * per-candidate verification then exceeds the partial-product join it
    * replaces (measured 42 s vs 8 s: 8.35M pairs × full-vector rescore
    * beats 36.5M map-side-combined partials), so the declared plan runs
    * without a prefix filter.
    */
  private[graft] def tfidfCosinePairsFrom(docs: DataFrame): DataFrame = {
    // One materialization of the postings pipeline (AQE's runtime stage
    // reuse does not collapse the three consumers — measured round 15):
    //  - nsq (the doc's squared norm) is folded INTO the checkpointed
    //    frame, so each self-join side carries its norm along and the two
    //    post-aggregation norm joins vanish (they planned as SortMergeJoins
    //    with a full exchange+sort of the Θ(pairs) dot frame EACH).
    //  - the checkpoint is pre-partitioned on the join key f, so the
    //    self-join reads both sides co-partitioned (no W-sized exchanges).
    //  - two steps: the postings pipeline runs ONCE into w0 and the norm
    //    join reads its blocks (one checkpoint re-ran the whole pipeline
    //    for both join sides — build 3.97 → 7.15 s; a window nsq was
    //    slower still).
    // Pair-keyed exchange width sized from the MEASURED candidate count
    // (guide §5 / the ccWidth precedent): the partial dot products of the
    // self-join reduce by pair, and per-task group counts near ~1M made
    // the hash aggregate fall back to sort-based aggregation
    // nondeterministically (round 15: 60 vs 152 executor-CPU-s on
    // back-to-back runs). partials = Σ_f C(df,2) = Σ_rows (df − 1) / 2
    // (each feature has df posting rows) is exact, rides the w0
    // checkpoint's own job as an observed sum, and bounds groups/task at
    // ~PairsPerAggTask regardless of core count or scale — the round-15
    // repartition onto spark.sql.shuffle.partitions put 1.3M groups per
    // task right back at 8 cores.
    val (w0, dfMinus1) = Observed.checkpoint(tfidfPostings(docs), sum(col("df") - 1))
    val partials = dfMinus1 / 2
    val nrm0 = w0.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nsq"))
    // the norm-carrying frame is checkpointed too: leaving it inline made
    // BOTH self-join sides re-run the doc exchange + norm join from the
    // w0 cache (measured: count CPU 41 → 69 s)
    val w = w0.join(nrm0, "doc_id")
      .select(col("doc_id"), col("f"), col("w"), col("nsq"))
      .repartition(col("f"))
      .localCheckpoint()
    val cores = w.sparkSession.sparkContext.defaultParallelism.toLong
    val width = math.max(cores, partials / PairsPerAggTask + 1L)
      .min(65536L).toInt
    // The self-join itself is deliberately LEFT to AQE's coalescing (few
    // fat tasks): each join task pays a fixed ~25 ms per reduce-partition
    // FILE of the downstream pair exchange (bypass-merge writer), so the
    // stage's cost is ≈ tasks × width × 25 ms almost independent of rows —
    // measured task-run sums 17.6 s / 112 s / 234 s at 5 / 32 / 140 join
    // tasks over the SAME 36.5M products, all ~3.5 s wall. Pinning the
    // join wider only multiplies file-open overhead; pushing width past
    // the sort-writer threshold traded it for a 2.7× CPU regression
    // (serialized sort of the products). Fat tasks amortize the files.
    //
    // every product row of a pair carries the same two norms, so first()
    // inside the pair aggregation reads back exactly the values the old
    // norm joins attached — integer-identical, no join needed
    w.as("a").hint("SHUFFLE_HASH").join(w.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        (col("a.w") * col("b.w")).as("p"),
        col("a.nsq").as("n1"), col("b.nsq").as("n2"))
      .repartition(width, col("d1"), col("d2"))
      .groupBy("d1", "d2")
      .agg(sum(col("p")).as("dot"),
        first(col("n1")).as("n1sq"), first(col("n2")).as("n2sq"))
      .filter(col("dot").cast("decimal(38,0)") * col("dot") * 25
        >= col("n1sq").cast("decimal(38,0)") * col("n2sq") * 16)
      .select("d1", "d2", "dot", "n1sq", "n2sq")
      .orderBy("d1", "d2")
  }

  /** Target distinct pair groups per dot-aggregation task — keeps each
    * task's hash-aggregation map small enough to never fall back to
    * sort-based aggregation (measured threshold ~1M groups; round 15).
    */
  private val PairsPerAggTask = 262144L

  /** Integer tf-idf postings (doc_id, f, df, w) over a documents
    * frame — the shared head of the all-pairs pipeline.
    */
  private[graft] def tfidfPostings(docs: DataFrame): DataFrame = {
    // spread: the bigram explode + map-side tf aggregation (the widest
    // fan-out in the engine, ~5M rows per 5k docs) is scan-stage work —
    // one task on the single-row-group fixture file without this
    val toks = Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    // size(ts) >= 2: keep a 1-token doc from feeding the descending
    // sequence(0, -1) (its null bigram is otherwise dropped only by
    // accident of the null-key join below).
    val bg = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i + 1]))"))
          .as("f"))
    val tf = bg.groupBy("doc_id", "f").agg(count(lit(1)).as("tf"))
    val nd = tf.select(countDistinct("doc_id").as("n")) // single-row total
    val df = tf.groupBy("f").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") <= expr("n div 4"))
      .select(col("f"), col("df"),
        // milli-nat idf snap on the bounded feature frame
        round(log(col("n").cast("double") / col("df")) * 1000)
          .cast("long").as("idf_milli"))
    tf.join(df, "f")
      .select(col("doc_id"), col("f"), col("df"),
        (col("tf") * col("idf_milli")).as("w"))
  }

}
