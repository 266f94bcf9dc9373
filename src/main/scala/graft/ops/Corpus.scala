package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Observed, Q, Tables}

/** The end of the dedup pipeline: collapse near-duplicate documents into
  * connected components and keep one representative per component, then
  * compose keepers with the quality/language filters into the final
  * training corpus — what a 100 TB data pipeline actually ships.
  */
object Corpus {

  /** Char-3-gram shingle set of a text column (the n-gram in n-gram
    * Jaccard; distinct shingles = set semantics).
    */
  private def shingles(text: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - 2, lit(1))),
      i => text.substr(i, lit(3))))

  /** Connected components over the MinHash near-dup graph by iterative
    * min-label propagation — run on the CLUSTER graph (every member of a
    * token-set cluster is pairwise near-dup, so doc components ≡ cluster
    * components fanned out to members). The cluster graph is ~30k edges
    * where the doc-pair graph is ~1.8M at sf0.1; each round is one shuffle
    * by cluster id (the standard large-graph CC layout; localCheckpoint
    * keeps the plan from growing per iteration).
    *
    * Returns (doc_id, keeper) — keeper = min doc id of the component —
    * memoized per (session, dir) so downstream pipelines reuse it.
    */
  private val componentCache = new Memo[(String, Int), DataFrame]

  def clearCaches(s: SparkSession): Unit = componentCache.clear(s)
  def cacheCount(s: SparkSession): Int = componentCache.count(s)

  /** Partition count for one CC round's frames: enough tasks to keep each
    * under ~64k edge rows, clamped to [1, 2×defaultParallelism]. A literal
    * width either starves a big graph or fans a tiny one out into
    * mostly-empty tasks; the edge count is measured, not assumed.
    */
  private def ccWidth(spark: SparkSession, edgeRows: Long): Int = {
    val byData = edgeRows / 65536L + 1L
    val cap    = spark.sparkContext.defaultParallelism.toLong * 2L
    math.max(1L, math.min(byData, cap)).toInt
  }

  def nearDupComponents(spark: SparkSession, dir: String,
      maxIters: Int = 15): DataFrame =
    componentCache(spark, (dir, maxIters))(
      componentsOf(spark, Dedup.clusterFrame(spark, dir),
        Dedup.qualifyingClusterPairs(spark, dir), maxIters))

  /** The CC loop over an explicit cluster graph: `clusters` needs
    * (cid, ms); `pairs` needs (cid, cid2). Returns the (doc_id, keeper)
    * frame — the loop alone, without the MinHash pipeline. The rounds run
    * with AQE off ([[Observed.withoutAqe]]): the frames are explicitly
    * sized by [[ccWidth]], so re-planning every stage of every round is
    * pure overhead, and all materialization happens inside the block.
    */
  private[graft] def componentsOf(spark: SparkSession, clusters: DataFrame,
      pairs: DataFrame, maxIters: Int = 15): DataFrame =
      Observed.withoutAqe(spark) {
    val cp = pairs.select(col("cid"), col("cid2"))
    // the cluster graph is usually ≪ docs but can itself be large at
    // 100 TB: right-size the iterative frames from the MEASURED edge
    // count so each CC round is a handful of full tasks, not
    // shuffle.partitions× empty ones (the checkpoint that sizes the loop
    // observes the count, so it costs no job)
    val (edges0, nEdges) = Observed.checkpoint(
      cp.union(cp.select(col("cid2").as("cid"), col("cid").as("cid2")))
        .select(col("cid"), col("cid2").as("src")), count(lit(1)))
    val width = ccWidth(spark, nEdges)
    // edges pre-partitioned by the probe key: every round's big join then
    // matches labels' (cid-renamed-src) partitioning — ZERO edge shuffle
    // per round; only label rows (≤ one per cluster) move
    val edges = edges0.repartition(width, col("src")).localCheckpoint()
    // labels only ever decrease, so sum(keeper) is a sound fixpoint
    // witness; an empty corpus reads a sum of 0
    val (labels0, sum0) = Observed.checkpoint(
      clusters.select(col("cid"), col("cid").as("keeper"))
        .repartition(width, col("cid")), sum(col("keeper")))
    val (labels, converged) =
        Observed.fixpoint(labels0, sum0, sum(col("keeper")), maxIters) { (labels, _) =>
      // One fused round: a node probes the labels of (a) its neighbors
      // and (b) its own keeper — (b) is pointer jumping (keeper :=
      // keeper-of-keeper), without which min-propagation needs
      // O(diameter) rounds on chain graphs; with it, O(log n).
      // label(keeper) ≤ keeper (labels are monotone), so the jump row
      // both subsumes least(keeper, …) and guarantees every cid
      // aggregates at least one row — no left-outer fallback needed.
      val holders = labels.select(col("cid").as("src"), col("keeper").as("lbl"))
      val nbr  = edges.join(holders, "src").select(col("cid"), col("lbl"))
      val jump = labels.select(col("cid"), col("keeper").as("src"))
        .join(holders, "src").select(col("cid"), col("lbl"))
      nbr.union(jump)
        // groupBy BEFORE re-narrowing: partial aggregation crushes the
        // per-edge messages map-side, so the round's shuffle moves ≤ one
        // row per (partition, cluster), not one per edge
        .groupBy(col("cid")).agg(min(col("lbl")).as("keeper"))
        // re-narrow every round: the agg widens to shuffle.partitions and
        // the checkpoint would freeze that width
        .repartition(width, col("cid"))
    }
    require(converged, s"connected components did not converge in $maxIters rounds")
    // fan cluster labels out to members (cid = min member id, so the
    // component keeper is automatically the min doc id)
    clusters.select(col("cid"), explode(col("ms")).as("doc_id"))
      .join(labels, "cid")
      .select(col("doc_id"), col("keeper"))
      .localCheckpoint()
  }

  /** The composed corpus-preparation pipeline: quality/language filters
    * FIRST, then one representative per near-dup component among the
    * SURVIVORS (min doc id). Filtering after keeper selection would drop a
    * whole component whenever its global min-id member fails the filters
    * even though another member passes — the representative must be chosen
    * from the filtered set.
    */
  def trainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    val toks    = split(col("text"), " ")
    val quality = TextOps.enStopHits(toks) / size(toks)
    // language + stopword-density + the C4/Gopher gate conjunction (the
    // same Column expression the oracle-checked q_quality_gates keeps on)
    val filtered = Tables.documents(spark, dir)
      .filter(col("lang") === "en" && quality >= 0.05 &&
        TextOps.qualityKeep(col("text")))
      .select("doc_id", "lang", "n_chars", "text")
    val reps = filtered
      .join(nearDupComponents(spark, dir), "doc_id")
      .groupBy("keeper").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // dedup/representative selection sees ORIGINAL text; only the emitted
    // corpus is redacted — redaction must never change dedup decisions.
    // n_chars is recomputed AFTER redaction so consumers' length accounting
    // describes the text they actually read.
    filtered.join(reps, "doc_id")
      .withColumn("text", TextOps.redactPii(col("text")))
      .withColumn("n_chars", length(col("text")))
  }

  val queries: Seq[Q] = Seq(

    // Pairwise SOURCE vocabulary overlap on bigram features: Jaccard of
    // each source pair's distinct-feature sets — the corpus-composition
    // diagnostic behind domain mixing (two sources with near-identical
    // vocabularies are redundant in the mix; an outlier source is either
    // valuable diversity or contamination). The (source, feature) distinct
    // frame is catalog × vocabulary — MODEL-sized, not corpus-sized — so
    // the self-join on feature fans out to at most |sources| per posting
    // and the pair aggregate is |sources|²-bounded. Exact integer
    // inter/union; jac is the ratio of two exact integers.
    Q("q_source_vocab_overlap",
      """WITH t AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
        |sv AS (
        |  SELECT DISTINCT source,
        |         unnest(list_transform(range(1, len(ts)),
        |                               i -> ts[i] || ' ' || ts[i+1])) AS f
        |  FROM t),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM sv GROUP BY 1),
        |p AS (
        |  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS inter
        |  FROM sv a JOIN sv b ON a.f = b.f AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, inter,
        |       za.nv + zb.nv - inter AS uni,
        |       inter / (za.nv + zb.nv - inter) AS jac
        |FROM p JOIN sz za ON za.source = s1 JOIN sz zb ON zb.source = s2
        |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("source"), split(col("text"), " ").as("ts"))
      // size(ts) >= 2 guard (as in LM.nbFeatures): sequence(0, size-2) on a
      // 1-token doc is the DESCENDING [0, -1], whose null bigrams would
      // survive explode+distinct while the oracle's range(1, len) is empty.
      val sv = t.filter(size(col("ts")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i + 1]))"))
          .as("f"))
        .distinct()
      val sz = sv.groupBy("source").agg(count(lit(1)).as("nv"))
      val p = sv.as("a").join(sv.as("b"),
          col("a.f") === col("b.f") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
      p.join(sz.select(col("source").as("s1"), col("nv").as("nv1")), "s1")
        .join(sz.select(col("source").as("s2"), col("nv").as("nv2")), "s2")
        .select(col("s1"), col("s2"), col("inter"),
          (col("nv1") + col("nv2") - col("inter")).as("uni"),
          (col("inter") / (col("nv1") + col("nv2") - col("inter"))).as("jac"))
        .orderBy("s1", "s2")
    },

    // Character-3-gram (shingle) Jaccard over consecutive-id pairs — the
    // n-gram flavor of near-dup scoring (word-token flavor:
    // q_jaccard_pairs). Canonicalize-before-dedup like every other
    // fingerprint-identity plane (round-11 contract): shingles are taken
    // over NORMALIZED text, so a composed-vs-decomposed duplicate pair
    // scores 1.0 here exactly as it does in q_jaccard_pairs. The oracle
    // materializes the normalized text in its own CTE FIRST — inlining
    // normalizeSql into the per-shingle lambda would re-evaluate it per
    // character position (the round-11 hashSql lesson).
    Q("q_ngram_jaccard",
      s"""WITH nd AS (
        |  SELECT doc_id, ${graft.functions.TextNorm.normalizeSql("text")} AS text
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(length(text) - 2, 1) + 1),
        |           i -> substr(text, CAST(i AS INTEGER), 3))) AS s
        |  FROM nd)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(len(list_intersect(a.s, b.s)) AS INTEGER) AS inter,
        |       CAST(len(list_distinct(list_concat(a.s, b.s))) AS INTEGER) AS uni,
        |       (len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s)))) AS jac
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY d1""".stripMargin) { (s, dir) =>
      import graft.functions.TextNormExprs.normalize_text
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), shingles(normalize_text(col("text"))).as("s"))
      val a  = sh.select(col("doc_id").as("d1"), col("s").as("s1"))
      val b  = sh.select(col("doc_id").as("d2"), col("s").as("s2"))
      val inter = size(array_intersect(col("s1"), col("s2")))
      val uni   = size(array_union(col("s1"), col("s2")))
      a.join(b, col("d2") === col("d1") + 1)
        .select(col("d1"), col("d2"), inter.as("inter"), uni.as("uni"),
          (inter / uni).as("jac"))
        .orderBy("d1")
    },

    // Top character 3-grams corpus-wide, produced by the custom
    // ShingleGenerator UDTF (lazy row stream — no per-doc shingle arrays).
    Q("q_shingle_topk",
      """SELECT sh, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                i -> substr(text, CAST(i AS INTEGER), 3))) AS sh
        |  FROM documents WHERE length(text) > 0)
        |GROUP BY sh ORDER BY n DESC, sh LIMIT 20""".stripMargin) { (s, dir) =>
      // the generator emits nothing for '' while the range-formulation
      // emits one '' shingle — the length(text) > 0 guard (both sides)
      // keeps parity for any future corpus with empty docs
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(graft.functions.ShingleGenerator.shingles(col("text"), 3)
          .as(Seq("pos", "sh")))
        .groupBy("sh").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("sh")).limit(20)
    },

    // Near-dup connected components — ORACLE-CHECKED as of round 7: the
    // CC fixpoint (keeper = min doc id of the component) is a pure
    // function of the graph, not of the iteration schedule, so the
    // engine's pointer-jumping loop and a plain min-label-propagation
    // script must land on the SAME table once both converge. The oracle
    // unrolls [[CcOracleIters]] propagation rounds in temp tables (the
    // PageRank/k-core script pattern); the measured doc-graph diameter
    // is ≤ 7 at every shipped scale and CorpusSpec asserts round
    // [[CcOracleIters]] = round [[CcOracleIters]]+1 on the live corpus,
    // so a regen that stretches the diameter past the unroll fails
    // loudly rather than silently.
    Q("q_dedup_components",
      s"""$keeperLabelsSql
         |SELECT v AS doc_id, lbl AS keeper FROM ccx_l$CcOracleIters
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      nearDupComponents(s, dir).orderBy("doc_id")
    },

    // Per-cluster dedup REPORT: the duplicate-cluster inventory a curation
    // run reads before deleting anything — for every non-singleton
    // component: member count, how many SOURCES it spans (cross-source
    // spread = licensing/contamination signal, cf. q_neardup_cross_source),
    // and the character mass the dedup pass will reclaim (everything but
    // the keeper). Rides the oracle-checked CC keeper labels (same
    // unrolled min-propagation script as q_dedup_components — the ccx_
    // tables are CREATE OR REPLACE, so script composition stays safe) plus
    // one docs join and one label-keyed groupBy.
    Q("q_dedup_cluster_stats",
      s"""$keeperLabelsSql
         |SELECT l.lbl AS keeper, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(CASE WHEN l.v = l.lbl THEN 0 ELSE d.n_chars END)
         |         AS BIGINT) AS reclaim_chars
         |FROM ccx_l$CcOracleIters l JOIN documents d ON d.doc_id = l.v
         |GROUP BY l.lbl HAVING count(*) >= 2
         |ORDER BY keeper""".stripMargin) { (s, dir) =>
      nearDupComponents(s, dir)
        .join(Tables.documents(s, dir), "doc_id")
        .groupBy("keeper")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          sum("n_chars").as("sum_chars"),
          sum(when(col("doc_id") === col("keeper"), lit(0L))
            .otherwise(col("n_chars"))).as("reclaim_chars"))
        .filter(col("n_docs") >= 2)
        .orderBy("keeper")
    },

    // The composed training-corpus pipeline — ORACLE-CHECKED as of the
    // round-7 close: every stage now has a SQL twin (language + stop-
    // density + C4/Gopher gates from the q_quality_gates shape, component
    // keepers from the unrolled CC script above, representative selection
    // a grouped min, PII redaction the q_pii_redact regexes), so the
    // whole composition runs as one multi-statement script and the
    // emitted corpus — ids, lang, REDACTED text, recomputed lengths —
    // hash-matches cell-for-cell. Same ccx_ table prefix as
    // q_dedup_components: each script creates its tables first, so
    // sharing a driver connection is safe (CREATE OR REPLACE).
    Q("q_training_corpus",
      s"""$keeperLabelsSql
         |CREATE OR REPLACE TEMP TABLE ccx_filtered AS
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE lang = 'en'
         |    AND (${TextOps.enHitsSql}
         |         / CAST(len(string_split(text, ' ')) AS INTEGER)) >= 0.05
         |    AND ${TextOps.qualityKeepSql};
         |CREATE OR REPLACE TEMP TABLE ccx_reps AS
         |  SELECT min(f.doc_id) AS doc_id
         |  FROM ccx_filtered f JOIN ccx_l$CcOracleIters c ON c.v = f.doc_id
         |  GROUP BY c.lbl;
         |SELECT f.doc_id, f.lang,
         |  CAST(length(regexp_replace(regexp_replace(f.text,
         |    '${TextOps.PiiEmail}', '<EMAIL>', 'g'),
         |    '${TextOps.PiiPhone}', '<PHONE>', 'g')) AS INTEGER) AS n_chars,
         |  regexp_replace(regexp_replace(f.text,
         |    '${TextOps.PiiEmail}', '<EMAIL>', 'g'),
         |    '${TextOps.PiiPhone}', '<PHONE>', 'g') AS text
         |FROM ccx_filtered f JOIN ccx_reps USING (doc_id)
         |ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      trainingCorpus(s, dir).orderBy("doc_id")
    }
  )

  /** Unrolled oracle rounds for the CC script (q_dedup_components). The
    * measured doc-graph diameter is ≤ 7 at every shipped scale; 10 leaves
    * margin, and CorpusSpec asserts the fixpoint at this bound.
    */
  final val CcOracleIters = 10

  /** The keeper labels of q_dedup_components in the oracle,
    * `ccx_l<CcOracleIters>` (v, lbl): every document starts as its own
    * label and [[Graph.labelPropSql]] propagates the minimum over the
    * near-dup pairs. The three `ccx_` scripts start with it.
    */
  private def keeperLabelsSql: String = Graph.labelPropSql("ccx",
    "SELECT doc_id AS v, doc_id AS lbl FROM documents", CcOracleIters)
}
