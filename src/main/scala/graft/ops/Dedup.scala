package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Q, Tables}
import graft.functions.Hashing
import graft.functions.exprs._

/** Near-duplicate detection for a training-data pipeline: document
  * fingerprinting, MinHash signatures + LSH banding, SimHash, and exact
  * token-set Jaccard. The per-document kernels (PolyHash/SimHash30) are
  * codegen'd Catalyst expressions ([[graft.functions]]); the oracle mirrors
  * them with DuckDB list_reduce/list_transform lambdas.
  *
  * Scale shape: signatures are computed per-row (narrow, no shuffle);
  * LSH candidate generation shuffles only (band, key) pairs — the classic
  * shingle→minhash→band→bucket-join layout that survives 1000 executors.
  *
  * Each rule of MinHash near-dup detection is written once, and the batch,
  * incremental, per-doc and calibration pipelines compose them:
  *  - token-set column: [[tokenSet]] (sorted distinct token hashes `th`);
  *  - band rows: [[bandRows]] (one row per LSH band of `sig`);
  *  - size bound: [[sizeBound]] (the integer τ prefilter on set sizes);
  *  - agreement and Jaccard columns: [[sigAgree]] over `sig1`/`sig2`,
  *    [[interSize]], [[unionSize]] and [[jaccard]] over `h1`/`h2`;
  *  - two-phase verify: [[verified]] (signature agreement, then exact
  *    Jaccard, per candidate cluster pair);
  *  - oracle prefix: [[minhashCandCtesWhere]] (the DuckDB chain up to the
  *    token sets, shared by the pair and calibration oracles).
  */
object Dedup {

  // 16 permutations in 2 bands of 8: LSH collision threshold ≈ (1/b)^(1/r)
  // ≈ 0.92 — tuned high because the synthetic corpus shares a tiny
  // vocabulary (median pairwise Jaccard ≈ 0.65; 4-row bands would make
  // nearly every pair a candidate).
  final val NumPerms   = 16
  final val BandRows   = 8
  final val NumBands   = NumPerms / BandRows

  /** Candidate prefilter: signature components agreeing (estimates Jaccard). */
  final val MinSigAgree = 14
  final val JaccardTau  = 0.9
  /** JaccardTau as an exact rational (9/10) for integer prefilters. */
  final val TauNum = 9
  final val TauDen = 10

  /** Content-defined chunking: rolling gram width and boundary divisor
    * (expected chunk length = [[ChunkDiv]] chars) — q_content_chunks.
    */
  final val ChunkW   = 8
  final val ChunkDiv = 64

  // ---- Spark side ---------------------------------------------------------

  /** Canonicalize-before-dedup (C4/CCNet): every fingerprint-identity
    * plane in this file — whole-doc PolyHash, MinHash/Jaccard token sets,
    * SimHash 30/128 — tokenizes CANONICAL text, so two documents that
    * differ only in composed-vs-decomposed accents, case, or whitespace
    * runs dedup as the same document. The kernel is the codegen'd
    * [[graft.functions.NormalizeText]]; its DuckDB mirror
    * [[graft.functions.TextNorm.normalizeSql]] wraps `text` in every
    * oracle below. POSITIONAL planes (winnowing, dup spans, CDC chunks)
    * deliberately stay on raw text: their outputs are offsets/spans into
    * the document as stored, and provenance must map back to raw
    * positions.
    */
  private def normText: Column =
    graft.functions.TextNormExprs.normalize_text(col("text"))
  private def toks: Column  = split(normText, " ")
  private[graft] def dtoks: Column = array_distinct(toks)
  /** Per-token 30-bit polynomial hashes (distinct tokens → set semantics). */
  private def tokenHashes: Column = transform(dtoks, t => poly_hash(t))
  /** Sorted token-hash set `th`: a cluster's key, the merge-walk set input. */
  private def tokenSet: Column = array_sort(tokenHashes)

  /** MinHash signature: sig_i = min over tokens of (h*(2i+1) + (101i+17)) mod P. */
  private[graft] def minhashSigsOf(hashes: Column): Column =
    transform(sequence(lit(0), lit(NumPerms - 1)), i =>
      array_min(transform(hashes, h =>
        (h * (i * 2 + 1) + (i * 101 + 17)) % Hashing.Mod)))
  private def minhashSigs: Column = minhashSigsOf(tokenHashes)

  /** Band keys of a signature column: comma-joined 8-value slices. */
  private def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(NumBands - 1)), b =>
      concat_ws(",", transform(slice(sig, b * BandRows + 1, lit(BandRows)),
        x => x.cast("string"))))

  /** Band rows: `f`'s `keep` columns once per LSH band of its `sig`, with
    * the band index and key every band join matches on.
    */
  private def bandRows(f: DataFrame, keep: Column*): DataFrame =
    f.select(keep :+ posexplode(bandKeys(col("sig"))).as(Seq("band", "key")): _*)

  /** The size bound of the τ cut on two set sizes: jac ≥ τ forces
    * |A∩B| ≤ min and |A∪B| ≥ max, hence min/max ≥ τ, so a band join that
    * carries it drops most colliding pairs on two ints before any array
    * work. Integer form (τ = [[TauNum]]/[[TauDen]]): a double
    * `n ≥ 0.9·n2` would wrongly drop exact-boundary pairs like
    * |A|=90 ⊂ |B|=100 whose jac is exactly 0.9.
    */
  private def sizeBound(n1: Column, n2: Column): Column =
    least(n1, n2) * TauDen >= greatest(n1, n2) * TauNum

  /** Agreeing components of the signatures `sig1` and `sig2`. */
  private def sigAgree: Column = count_equal(col("sig1"), col("sig2"))
  /** Exact intersection, union and Jaccard of the token sets `h1` and `h2`. */
  private def interSize: Column = intersect_count_sorted(col("h1"), col("h2"))
  private def unionSize: Column = size(col("h1")) + size(col("h2")) - interSize
  private def jaccard: Column = interSize / unionSize

  /** Two-phase verify of candidate pairs (`l`, `r`) of the cluster frames
    * `lf` and `rf`, keyed on their `cid`: the 16-long signatures travel to
    * EVERY candidate pair (cheap, auto-broadcast-sized) and keep
    * sig_agree ≥ [[MinSigAgree]]; only the survivors join the full
    * token-hash arrays and keep jac ≥ [[JaccardTau]] — at scale the wide
    * arrays never ride along with the raw candidate set. Candidates come
    * in NOT distinct'ed: a pair collides in at most [[NumBands]] bands,
    * and re-verifying a duplicate is cheaper than shuffling every
    * candidate row through a pre-dedup, so the tiny qualifying output is
    * distinct'ed instead.
    */
  private def verified(cand: DataFrame, lf: DataFrame, l: String,
      rf: DataFrame, r: String): DataFrame = {
    def side(f: DataFrame, id: String, c: String, as: String) =
      f.select(col("cid").as(id), col(c).as(as))
    cand.join(side(lf, l, "sig", "sig1"), l).join(side(rf, r, "sig", "sig2"), r)
      .select(col(l), col(r), sigAgree.as("sig_agree"))
      .filter(col("sig_agree") >= MinSigAgree)
      .join(side(lf, l, "th", "h1"), l).join(side(rf, r, "th", "h2"), r)
      .select(col(l), col(r), col("sig_agree"),
        interSize.as("inter"), unionSize.as("uni"), jaccard.as("jac"))
      .filter(col("jac") >= JaccardTau)
      .distinct()
  }

  /** Cached per-(session, dir) frames ([[graft.Memo]]). The cluster table
    * feeds 5 branches (members, sizes, bands, both join sides) and is tiny
    * (≪ docs) — cache it instead of recomputing the groupBy+hash per
    * branch. Memoization bounds storage memory to one cached frame per
    * dataset even when the query is built repeatedly in one session.
    */
  private val memo = new Memo[(String, String), DataFrame]

  private def memoized(s: SparkSession, dir: String, key: String)
      (f: => DataFrame): DataFrame =
    memo(s, (dir, key))(f.cache())

  def clearCaches(s: SparkSession): Unit = memo.clear(s)
  def cacheCount(s: SparkSession): Int = memo.count(s)

  private[graft] def clusterFrame(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "clusters")(clusterFrameOf(Tables.documents(s, dir)))

  /** Token-set equivalence clusters of an arbitrary (doc_id, text) frame —
    * the dedup INDEX: (cid, th, sig, ms). Group key = sorted per-token
    * hashes, not the token strings: the grouping is equivalent (PolyHash is
    * injective on the corpus vocabulary — asserted by QueriesSpec) but the
    * shuffle moves long arrays instead of string arrays and sorts longs
    * instead of strings; downstream set ops are O(n) merge walks on the
    * same sorted arrays.
    */
  private[graft] def clusterFrameOf(docs: DataFrame): DataFrame =
    // spread: the tokenize+hash+sort fan-out below runs in the SCAN stage,
    // which the single-row-group fixture file otherwise serializes onto
    // one task (Tables.spread scaladoc; guide §2.5)
    Tables.spread(docs)
      .select(col("doc_id"), tokenSet.as("th"))
      .groupBy(col("th"))
      .agg(collect_list(col("doc_id")).as("ms"))
      .withColumn("sig", minhashSigsOf(col("th")))
      .withColumn("cid", array_min(col("ms")))

  // ---- DuckDB mirrors -----------------------------------------------------

  /** Canonicalized `text` in DuckDB SQL — the oracle twin of [[normText]],
    * wrapped around `text` at every fingerprint-identity tokenize site.
    */
  private[ops] def normTextSql: String =
    graft.functions.TextNorm.normalizeSql("text")

  /** Polynomial hash of an arbitrary SQL string expression, char by char. */
  def hashSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
       |  list_transform(range(1, length($e) + 1),
       |    i -> CAST(ascii(substr($e, i, 1)) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  private def hsCteWhere(where: String): String =
    s"""WITH hs_t AS (
       |  SELECT doc_id,
       |         list_transform(list_distinct(string_split(${normTextSql}, ' ')),
       |                        t -> ${hashSql("t")}) AS hs
       |  FROM documents$where
       |)""".stripMargin

  private val hsCte = hsCteWhere("")

  private val sigExpr =
    "list_min(list_transform(hs, h -> (h * (2 * i + 1) + (101 * i + 17)) % 1000000007))"

  /** Qualifying near-dup CLUSTER pairs (cid < cid2): band collision →
    * signature agreement → exact Jaccard. The doc-level pair set is exactly
    * the member cross-product of these plus all intra-cluster pairs, so
    * graph algorithms (connected components) can run on this tiny graph.
    * Memoized: both the pair query and the CC edge list consume it, and the
    * band self-join is the expensive stage of the dedup pipeline.
    */
  private[graft] def qualifyingClusterPairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "qpairs")(qualifyingClusterPairsPlan(s, dir))

  private def qualifyingClusterPairsPlan(s: SparkSession, dir: String): DataFrame = {
    val clusters = clusterFrame(s, dir)
    val bands = bandRows(clusters, col("cid"), size(col("th")).as("n"))
    val cand = bands.join(
      bands.select(col("cid").as("cid2"), col("n").as("n2"),
        col("band").as("band2"), col("key").as("key2")),
      col("band") === col("band2") && col("key") === col("key2") &&
        col("cid") < col("cid2") && sizeBound(col("n"), col("n2")))
      .select("cid", "cid2")
    verified(cand, clusters, "cid", clusters, "cid2")
  }

  // ---- incremental near-dup (ingest batch vs existing index) -------------

  /** Qualifying near-dup pairs between a NEW ingest batch and an EXISTING
    * corpus index, WITHOUT recomputing any index×index pair — the MinHash
    * analog of the incremental IVF append. `index` is a [[clusterFrameOf]]
    * frame persisted once for the corpus (at 100 TB: written bucketed by
    * band key; re-derived per call here). The new batch is clustered among
    * itself (exact dups collapse first), banded, and band-joined against
    * the index only — candidate volume is Θ(new × bucket density), never
    * Θ(corpus²) — then the usual two-phase verify (signature agreement →
    * exact Jaccard once per cluster pair). Every stage is pairwise, so the
    * result provably equals the full-corpus pipeline restricted to
    * (new, existing) pairs — QueriesSpec asserts the equality and the
    * oracle hash-checks it cross-engine (q_dedup_incremental).
    *
    * Output: one row per (new_doc, dup_of) qualifying doc pair.
    */
  private[graft] def incrementalNearDup(index: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val nc = clusterFrameOf(newDocs)
    // size bound pushed into the band join, exactly as the batch pipeline
    val cand = bandRows(nc, col("cid").as("ncid"), size(col("th")).as("nn"))
      .join(bandRows(index, col("cid").as("icid"), size(col("th")).as("in")),
        Seq("band", "key"))
      .filter(sizeBound(col("nn"), col("in")))
      .select("ncid", "icid")
    // fan out once per member pair — slim (cid, doc) rows only
    verified(cand, nc, "ncid", index, "icid")
      .join(nc.select(col("cid").as("ncid"), explode(col("ms")).as("new_doc")), "ncid")
      .join(index.select(col("cid").as("icid"), explode(col("ms")).as("dup_of")), "icid")
      .select(col("new_doc"), col("dup_of"), col("sig_agree"),
        col("inter"), col("uni"), col("jac"))
  }

  /** LWW retired-doc set from a (doc_id, ts, op) index-maintenance
    * changelog — the Lakehouse CDC snapshot rule applied to index
    * MEMBERSHIP: a doc is retired iff its LATEST maintenance op is a
    * delete tombstone ('D'); a later re-ingest ('U') resurrects it. Ties
    * on ts resolve to the delete (op 'D' < 'U' — a same-timestamp race
    * retires conservatively; a production log would carry a sequence
    * number like the events changelog's event_id). One keyed exchange +
    * per-key top-1, the Lakehouse.snapshot shape.
    */
  private[graft] def retiredIds(changes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("ts").desc, col("op").asc)
    changes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "D")
      .select("doc_id")
  }

  /** Fold a retirement batch into a persisted cluster index WITHOUT a
    * rebuild — the GDPR-style deletion face of [[incrementalNearDup]]'s
    * append-only ingest: drop retired docs from member lists, drop
    * clusters left with no member, re-derive cid (min surviving member).
    * NO re-tokenization, re-hashing, or signature work happens — cluster
    * identity is the token-set key `th`, which member removal cannot
    * change — so the maintenance cost is one NARROW (cid, doc) member
    * shuffle plus one join carrying the wide th/sig arrays back, keyed
    * on the old cid. At 100 TB: member rows are two longs each; the
    * wide arrays move once per RETAINED cluster, never per member, and
    * the anti-join against the tombstone set is an ordinary keyed join
    * (no driver state). QueriesSpec proves
    * retireFrom(clusterFrameOf(D), X) ≡ clusterFrameOf(D ∖ X) at
    * arbitrary cutoffs, including retire-nothing and retire-everything.
    */
  private[graft] def retireFrom(index: DataFrame, retired: DataFrame): DataFrame = {
    val live = index.select(col("cid").as("ocid"), explode(col("ms")).as("d"))
      .join(retired.select(col("doc_id").as("d")), Seq("d"), "left_anti")
      .groupBy("ocid").agg(collect_list(col("d")).as("ms"))
    index.select(col("cid").as("ocid"), col("th"), col("sig"))
      .join(live, "ocid")
      .select(col("th"), col("ms"), col("sig"), array_min(col("ms")).as("cid"))
  }

  /** Per-DOC (ungrouped) qualifying matches against an index — the
    * streaming-safe variant of [[incrementalNearDup]]: no groupBy on the
    * incoming side (a streaming aggregation before a join would need its
    * own state store and output mode), just narrow per-row signature/band
    * derivation, a stream-static band join against the index, and the
    * checks of [[verified]] as three filters on that one join.
    * Semantically identical per doc (clustering the new batch first only
    * dedups the verify work, never changes which docs match). Returns the
    * distinct new-doc ids with ≥1 qualifying match.
    */
  private[graft] def nearDupMatchedIds(index: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val rows = newDocs.select(col("doc_id"), tokenSet.as("th"))
      .withColumn("sig", minhashSigsOf(col("th")))
    val banded = bandRows(rows, col("doc_id"), size(col("th")).as("nn"),
      col("sig").as("sig1"), col("th").as("h1"))
    val idxBands = bandRows(index, col("cid"), size(col("th")).as("in"),
      col("sig").as("sig2"), col("th").as("h2"))
    banded.join(idxBands, Seq("band", "key"))
      .filter(sizeBound(col("nn"), col("in")))
      .filter(sigAgree >= MinSigAgree)
      .filter(jaccard >= JaccardTau)
      .select("doc_id").distinct()
  }

  /** Ingest curation: keep only the incoming docs with NO qualifying
    * near-dup in the index. Per micro-batch this is two ordinary batch
    * joins (band join + left_anti) — see Streams.nearDupCuration for the
    * streaming wiring.
    */
  private[graft] def dropNearDups(index: DataFrame, docs: DataFrame): DataFrame =
    docs.join(nearDupMatchedIds(index, docs), Seq("doc_id"), "left_anti")

  /** The qualifying near-dup pair frame (d1 < d2, sig_agree ≥ MinSigAgree,
    * jac ≥ JaccardTau) — the output of the LSH pipeline, shared by
    * q_dedup_minhash_pairs and q_neardup_degree.
    */
  private[graft] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    // Memoized like its inputs (clusterFrame, qualifyingClusterPairs):
    // ~14 declared queries start from this frame — the whole graph suite
    // re-derived the member fan-out joins per consumer (and per SUBTREE:
    // degreeAssortativity inlines pairs 4×). The declaring first consumer
    // (q_dedup_minhash_pairs, bench declaration order) pays the compute in
    // the timed pass after the cache clear; everyone downstream reads the
    // narrow 6-column cached frame.
    memoized(s, dir, "mhpairs")(minhashPairsPlan(s, dir))

  private def minhashPairsPlan(s: SparkSession, dir: String): DataFrame = {
    // MinHash signatures and Jaccard depend only on the distinct-token
    // SET, so first collapse docs into token-set equivalence clusters.
    // On a heavily-duplicated corpus the qualifying-pair output is
    // Θ(cluster²) — unavoidable — but this layout does ALL similarity
    // work (signatures, band collisions, agreement, exact Jaccard) once
    // per cluster PAIR; per doc pair only codegen'd enumeration remains.
    // At 100 TB: clusters ≪ docs shuffle by token-set hash, cluster-pair
    // join is broadcast-sized, and the final explode is embarrassingly
    // parallel.
    val clusters = clusterFrame(s, dir)

    // member table: one slim (cid, doc) row per doc — pair fan-out happens
    // INSIDE joins on cid, so wide arrays never ride along with pair rows
    val memAll = clusters.select(col("cid"), explode(col("ms")).as("d"))

    // intra-cluster: identical token sets → sig_agree = 16, jac = 1.0.
    // nPer is Θ(clusters) — data-proportional on a diverse corpus — so no
    // broadcast hint: all three frames hash on cid (co-partitioned join)
    // and AQE broadcasts at runtime while the cluster table measures small.
    val nPer = clusters.select(col("cid"), size(col("th")).as("n"))
    val intra = memAll
      .join(memAll.select(col("cid"), col("d").as("d2")), "cid")
      .filter(col("d") < col("d2"))
      .join(nPer, "cid")
      .select(col("d").as("d1"), col("d2"), lit(NumPerms).as("sig_agree"),
        col("n").as("inter"), col("n").as("uni"), (col("n") / col("n")).as("jac"))

    // inter-cluster: judged once per CLUSTER pair
    // (qualifyingClusterPairs), then fanned out to member pairs via joins
    val interPairs = qualifyingClusterPairs(s, dir)
      .join(memAll.select(col("cid"), col("d").as("da")), "cid")
      .join(memAll.select(col("cid").as("cid2"), col("d").as("db")), "cid2")
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        col("sig_agree"), col("inter"), col("uni"), col("jac"))

    intra.union(interPairs)
  }

  /** The full LSH-pipeline oracle SQL, minus final SELECT — `WITH`-prefix
    * chain shared by q_dedup_minhash_pairs and q_neardup_degree.
    */
  private[ops] def minhashPairsCtes: String = minhashPairsCtesWhere("")

  /** [[minhashPairsCtes]] over `documents` restricted by a WHERE suffix
    * (e.g. `" WHERE doc_id % 4 = 0"`). Pair qualification is purely
    * pairwise (band keys, signature agreement, Jaccard are functions of
    * the two documents alone), so the pipeline over a document subset
    * yields EXACTLY the all-documents pairs restricted to that subset —
    * which lets an oracle that must re-evaluate these CTEs many times
    * (DuckDB 1.0 re-runs a CTE per reference, MATERIALIZED or not) work
    * on a vertex-induced subgraph at a fraction of the cost.
    */
  private[ops] def minhashPairsCtesWhere(where: String): String =
    s"""${minhashCandCtesWhere(where)}, pairs_t AS (
       |  SELECT d1, d2, sig_agree,
       |         CAST(len(list_intersect(a.t, b.t)) AS INTEGER) AS inter,
       |         CAST(len(list_distinct(list_concat(a.t, b.t))) AS INTEGER) AS uni,
       |         (len(list_intersect(a.t, b.t)) / len(list_distinct(list_concat(a.t, b.t)))) AS jac
       |  FROM est JOIN tk a ON a.doc_id = d1 JOIN tk b ON b.doc_id = d2
       |  WHERE sig_agree >= $MinSigAgree
       |    AND (len(list_intersect(a.t, b.t)) / len(list_distinct(list_concat(a.t, b.t)))) >= $JaccardTau
       |)""".stripMargin

  /** The oracle prefix of [[minhashPairsCtesWhere]], before `pairs_t`:
    * token hashes (hs_t) → signatures (sig_t) → band keys (band_t) →
    * distinct banded candidates (cand) → their signature agreement (est)
    * → token sets (tk). q_minhash_calibration reads it unthresholded.
    */
  private def minhashCandCtesWhere(where: String): String =
    s"""${hsCteWhere(where)}, sig_t AS (
       |  SELECT doc_id, list_transform(range(0, $NumPerms), i -> $sigExpr) AS sig
       |  FROM hs_t
       |), band_t AS (
       |  SELECT doc_id, b,
       |         array_to_string(sig[(b * $BandRows + 1):(b * $BandRows + $BandRows)], ',') AS key
       |  FROM sig_t, range(0, $NumBands) t(b)
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |  FROM band_t l JOIN band_t r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
       |), est AS (
       |  SELECT d1, d2,
       |         CAST(len(list_filter(list_transform(range(1, $NumPerms + 1),
       |           i -> sa.sig[i] = sb.sig[i]), x -> x)) AS INTEGER) AS sig_agree
       |  FROM cand JOIN sig_t sa ON sa.doc_id = d1 JOIN sig_t sb ON sb.doc_id = d2
       |), tk AS (
       |  SELECT doc_id, list_distinct(string_split(${normTextSql}, ' ')) AS t FROM documents$where
       |)""".stripMargin

  /** SimHash signature CTEs (hs_t → sg): the 30-bit occurrence-weighted
    * SimHash of every document — shared by q_simhash and q_simhash_pairs.
    */
  private def simhashSgCtes: String =
    s"""WITH hs_t AS (
       |  SELECT doc_id,
       |         list_transform(string_split(${normTextSql}, ' '), t -> ${hashSql("t")}) AS hs
       |  FROM documents
       |), sg AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 30), j ->
       |    CASE WHEN list_sum(list_transform(hs, h ->
       |           CASE WHEN ((h >> j) & 1) = 1 THEN CAST(1 AS BIGINT)
       |                ELSE CAST(-1 AS BIGINT) END)) > 0
       |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
       |  FROM hs_t
       |)""".stripMargin

  /** SimHash band count and width: 30 bits in 3 bands of 10. Pigeonhole:
    * Hamming distance ≤ [[SimHamMax]] flips at most 2 bits, so at least
    * one of the 3 bands is untouched — banded blocking finds EVERY
    * qualifying pair (exactness, not recall).
    */
  final val SimBands  = 3
  final val SimBandW  = 10
  final val SimHamMax = 2

  /** 128-bit SimHash pair tolerance (q_simhash_pairs128): the matched
    * RELATIVE tolerance of the 30-bit ham ≤ 2 contract (2/30 ≈ 8/128).
    * Chunk geometry is NOT fixed here: `simhash128PairsFrom` routes
    * through the corpus-sized `Similarity.mihChunksFor(n, 128, τ)`,
    * which at τ=8 picks ≥ 9 radius-0 chunks (exact chunk keys, 1 mask)
    * at every measured corpus count.
    */
  final val Sim128Tau = 8

  /** The 128-bit fingerprint word table (doc_id, w0..w3) as ONE SELECT —
    * shared between the q_simhash_pairs128 oracle (as a CTE) and the
    * q_ktruss oracle script (as a temp-table source). Nested CTEs are
    * inlined as subqueries so the text drops into either context.
    */
  private[ops] def simhash128WordsSelect: String =
    s"""  SELECT doc_id,
       |    CAST(sum(CASE WHEN w = 0 THEN s16 WHEN w = 1 THEN s16 * 65536 ELSE 0 END) AS BIGINT) AS w0,
       |    CAST(sum(CASE WHEN w = 2 THEN s16 WHEN w = 3 THEN s16 * 65536 ELSE 0 END) AS BIGINT) AS w1,
       |    CAST(sum(CASE WHEN w = 4 THEN s16 WHEN w = 5 THEN s16 * 65536 ELSE 0 END) AS BIGINT) AS w2,
       |    CAST(sum(CASE WHEN w = 6 THEN s16 WHEN w = 7 THEN s16 * 65536 ELSE 0 END) AS BIGINT) AS w3
       |  FROM (
       |    SELECT doc_id, w, CAST(list_sum(list_transform(range(0, 16), j ->
       |      CASE WHEN list_sum(list_transform(hs, h ->
       |             CASE WHEN ((h >> j) & 1) = 1 THEN CAST(1 AS BIGINT)
       |                  ELSE CAST(-1 AS BIGINT) END)) > 0
       |           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS s16
       |    FROM (
       |      SELECT doc_id, w,
       |             list_transform(string_split(${normTextSql}, ' '),
       |               t -> ${hashSql("t || '#' || CAST(w AS VARCHAR)")}) AS hs
       |      FROM documents, range(0, 8) r(w)))
       |  GROUP BY doc_id""".stripMargin

  /** [[simhash128WordsSelect]] as a `;`-terminated statement body for
    * temp-table scripts.
    */
  private[ops] def simhash128WordsSql: String = s"$simhash128WordsSelect;"

  /** [[simhash128PairsFrom]] over the corpus documents table, memoized per
    * (session, dir) like [[minhashPairs]]: two declared queries consume the
    * identical frame (q_simhash_pairs128 and q_ktruss's edge list) and each
    * re-ran the full normalize+SimHash+MIH pipeline. Declaration order puts
    * q_simhash_pairs128 first, so it pays the build in the bench's timed
    * pass after the cache clear; q_ktruss reads the 33k-row cached frame.
    */
  private[graft] def simhash128Pairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "sh128pairs")(simhash128PairsFrom(Tables.documents(s, dir)))

  /** 128-bit fingerprint pair search over an explicit documents frame:
    * [[graft.functions.Hashing.simHash128]] codes through the sized
    * parametric MIH engine — the chunk geometry comes from the corpus
    * count via [[Similarity.mihChunksFor]] (at τ = 8 over 128 bits the
    * model picks ≥ 9 chunks, which drops the per-chunk radius to 0:
    * exact-key probes, ONE mask per chunk vs the static 8×16-bit
    * layout's 17 — pigeonhole still covers because 9 chunks × radius 0
    * pigeonholes any ≤ 8 flips). Output is chunk-count-invariant (exact
    * Hamming filter; the brute-force oracles re-prove it).
    */
  private[graft] def simhash128PairsFrom(docs: DataFrame): DataFrame = {
    import graft.functions.exprs.sim_hash128
    // spread: normalize + 128-bit SimHash per doc is scan-stage work —
    // serialized on the single-row-group fixture file otherwise
    val codes = Tables.spread(docs)
      .select(col("doc_id").as("vec_id"),
        sim_hash128(split(
          graft.functions.TextNormExprs.normalize_text(col("text")), " "))
          .as("sw"))
      .select(col("vec_id"), col("sw").getItem(0).as("w0"),
        col("sw").getItem(1).as("w1"), col("sw").getItem(2).as("w2"),
        col("sw").getItem(3).as("w3"))
    Similarity.mihPairsChunked(codes, Seq("w0", "w1", "w2", "w3"), Sim128Tau,
      Similarity.mihChunksFor(docs.count(), 128, Sim128Tau))
      .select(col("v1").as("d1"), col("v2").as("d2"), col("ham"))
  }

  /** Winnowing (q_winnowing): gram size in tokens, window size in grams,
    * and the composite-key base (must exceed any gram position; gram
    * hashes are < 10⁹+7 so h·WinB < 2^51 — no int64 overflow).
    */
  final val WinK = 4
  final val WinW = 4
  final val WinB = 1L << 20

  /** The banded SimHash pair pipeline over an explicit documents frame
    * (needs doc_id + text).
    */
  private[graft] def simhashPairsFrom(docs: DataFrame): DataFrame = {
    val sig = sim_hash30(transform(split(
      graft.functions.TextNormExprs.normalize_text(col("text")), " "),
      t => poly_hash(t)))
    val sg  = docs.select(col("doc_id"), sig.as("sig"))
    val bands = sg
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(SimBands - 1))).as("b"))
      .withColumn("key",
        expr(s"shiftright(sig, b * $SimBandW) & ${(1 << SimBandW) - 1}"))
    val l = bands.select(col("b"), col("key"),
      col("doc_id").as("d1"), col("sig").as("sig1"))
    val r = bands.select(col("b"), col("key"),
      col("doc_id").as("d2"), col("sig").as("sig2"))
    l.join(r, Seq("b", "key")).filter(col("d1") < col("d2"))
      .select("d1", "d2", "sig1", "sig2").distinct()
      .withColumn("ham",
        bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("ham") <= SimHamMax)
      .select("d1", "d2", "ham")
  }

  val queries: Seq[Q] = Seq(

    // Whole-document fingerprint (rolling polynomial hash over all chars
    // of the CANONICALIZED text — exact-dup detection must not split on
    // accent encoding, case, or whitespace runs). The oracle materializes
    // the normalized text in a subquery FIRST: inlining normTextSql into
    // hashSql's per-char lambda makes DuckDB re-normalize once per
    // character (measured 21.8 s vs 0.03 s at sf0.1) — an unfair oracle
    // pessimization, not a semantic difference.
    Q("q_doc_fingerprint",
      s"""SELECT doc_id, ${hashSql("t")} AS fp
         |FROM (SELECT doc_id, $normTextSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), poly_hash(normText).as("fp"))
          .orderBy("doc_id")
    },

    // MinHash signatures, one row per (doc, permutation). Token hashes are
    // materialized in their own projection first — inlining them would
    // re-run PolyHash once per permutation (16× the work).
    Q("q_minhash_sigs",
      s"""$hsCte
         |SELECT doc_id, CAST(i AS INTEGER) AS i, CAST($sigExpr AS BIGINT) AS sig
         |FROM hs_t, range(0, $NumPerms) t(i)
         |ORDER BY doc_id, i""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), tokenHashes.as("hs"))
        .select(col("doc_id"), posexplode(minhashSigsOf(col("hs"))).as(Seq("i", "sig")))
        .orderBy("doc_id", "i")
    },

    // LSH near-dup pipeline: band-key candidate pairs → cheap signature-
    // agreement prefilter (est. Jaccard, 16 comparisons) → exact token-set
    // Jaccard verify. Only (band,key) rows and signatures shuffle — full
    // texts never move; at 100 TB each stage is a key-partitioned join.
    Q("q_dedup_minhash_pairs",
      s"""$minhashPairsCtes
         |SELECT d1, d2, sig_agree, inter, uni, jac
         |FROM pairs_t ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      minhashPairs(s, dir).orderBy("d1", "d2")
    },

    // b-BIT MINHASH (Li & König 2010, b = 1): store only the LOWEST BIT
    // of each of the 16 permutation minima — 1/64th the signature bytes —
    // and estimate Jaccard from bit agreement via the unbiased correction
    // Ĵ = 2·(a₁/k) − 1 (a random non-matching minimum agrees on its low
    // bit half the time, so E[a₁/k] = (1+J)/2). Emitted per qualifying
    // pair next to the full-width estimate: at k = 16 the 1-bit estimator
    // is honest-but-coarse (quantized to 1/8ths, σ ≈ 0.25 at J ≈ 0.9) —
    // the STORAGE/variance trade the paper quantifies, here exact-integer
    // and oracle-checked (agreement counts are integers; both estimates
    // one trunc-div). Scale: rides the existing banded candidate pairs;
    // adds one narrow per-doc signature projection + two doc-keyed joins.
    Q("q_bbit_minhash",
      s"""$minhashPairsCtes
         |SELECT p.d1, p.d2, p.sig_agree,
         |       CAST(len(list_filter(list_transform(range(1, $NumPerms + 1),
         |         i -> (sa.sig[i] % 2) = (sb.sig[i] % 2)), x -> x))
         |         AS INTEGER) AS bit_agree,
         |       CAST(p.sig_agree * 1000000 // $NumPerms AS BIGINT)
         |         AS est_full_micro,
         |       CAST((2 * len(list_filter(list_transform(range(1, $NumPerms + 1),
         |         i -> (sa.sig[i] % 2) = (sb.sig[i] % 2)), x -> x))
         |         - $NumPerms) * 1000000 // $NumPerms AS BIGINT)
         |         AS est_1bit_micro
         |FROM pairs_t p
         |JOIN sig_t sa ON sa.doc_id = p.d1
         |JOIN sig_t sb ON sb.doc_id = p.d2
         |ORDER BY p.d1, p.d2""".stripMargin) { (s, dir) =>
      import graft.functions.exprs.count_equal
      val lowBits = (c: Column) => transform(c, x => x % 2)
      val sg = Tables.documents(s, dir)
        .select(col("doc_id"), minhashSigs.as("sig"))
      val ba = count_equal(lowBits(col("siga")), lowBits(col("sigb")))
        .cast("int")
      minhashPairs(s, dir).select("d1", "d2", "sig_agree")
        .join(sg.select(col("doc_id").as("d1"), col("sig").as("siga")), "d1")
        .join(sg.select(col("doc_id").as("d2"), col("sig").as("sigb")), "d2")
        .withColumn("bit_agree", ba)
        .select(col("d1"), col("d2"), col("sig_agree"), col("bit_agree"),
          expr(s"CAST(sig_agree * 1000000 div $NumPerms AS BIGINT)")
            .as("est_full_micro"),
          expr(s"CAST((2 * bit_agree - $NumPerms) * 1000000 div $NumPerms AS BIGINT)")
            .as("est_1bit_micro"))
        .orderBy("d1", "d2")
    },

    // Near-dup degree histogram over the qualifying-pair graph: how many
    // docs have exactly `deg` near-duplicates — the shape that tells you
    // whether duplication is a few huge boilerplate clusters (heavy tail)
    // or many small ones, and thus what dedup will actually delete. Both
    // aggregations key on doc_id / deg; the pair frame reuses the cached
    // cluster pipeline, so only the enumeration re-runs.
    Q("q_neardup_degree",
      s"""$minhashPairsCtes, deg_t AS (
         |  ${Graph.degreeSql(s"(${Graph.bothWaysSql("pairs_t")})")}
         |)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_docs
         |FROM deg_t GROUP BY deg ORDER BY deg""".stripMargin) { (s, dir) =>
      Graph.degrees(Graph.bothWays(minhashPairs(s, dir)))
        .groupBy("deg").agg(count(lit(1)).as("n_docs"))
        .orderBy("deg")
    },

    // GINI concentration of duplication mass per source: is a source's
    // near-dup exposure spread thinly (mirrored-corpus syndrome, Gini → 0)
    // or concentrated in a few boilerplate hubs (template syndrome,
    // Gini → 1, fix by dropping the hubs)? Exact integers end to end: the
    // sorted-rank Gini formula G = (2·Σ r·x − (n+1)·Σx)/(n·Σx) needs one
    // PARTITIONED row_number (source-keyed — scales with the biggest
    // source, never a global window) and is tie-order-invariant (equal x
    // swap freely in Σ r·x), carried in micro units by one trunc-div;
    // an undupped source (Σx = 0) yields NULL via nullif in both engines.
    Q("q_gini_dup_mass",
      s"""$minhashPairsCtes, dg AS (
         |  ${Graph.degreeSql(s"(${Graph.bothWaysSql("pairs_t")})")}),
         |ad AS (
         |  SELECT d.doc_id, d.source, coalesce(dg.deg, 0) AS x
         |  FROM documents d LEFT JOIN dg ON dg.v = d.doc_id),
         |rk AS (
         |  SELECT source, x,
         |         row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS r
         |  FROM ad)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(x) AS BIGINT) AS dup_mass,
         |       CAST((2 * sum(r * x) - (count(*) + 1) * sum(x)) * 1000000
         |            // nullif(count(*) * sum(x), 0) AS BIGINT) AS gini_micro
         |FROM rk GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val dg = Graph.degrees(Graph.bothWays(minhashPairs(s, dir)))
        .withColumnRenamed("v", "doc_id")
      val ad = Tables.documents(s, dir).select("doc_id", "source")
        .join(dg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("deg"), lit(0L)).as("x"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("x", "doc_id")
      ad.withColumn("r", row_number().over(w).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("x").as("dup_mass"),
          sum(expr("r * x")).as("srx"))
        .select(col("source"), col("n_docs"), col("dup_mass"),
          expr("(2 * srx - (n_docs + 1) * dup_mass) * 1000000" +
            " div nullif(n_docs * dup_mass, 0)").as("gini_micro"))
        .orderBy("source")
    },

    // Per-SOURCE duplication exposure — the near-dup graph joined back to
    // provenance: for each source, how many of its documents participate
    // in any qualifying near-dup pair, and the exact integer ratio in
    // permille. The curation read: a source with dup_permille near 1000
    // is redundant mass the domain-mix stage should down-weight before
    // training (the q_source_mix knob, now with a measured input). One
    // distinct over the pair endpoints + one doc-keyed join + one
    // source-keyed aggregate — the corpus moves once; ratios are exact
    // trunc-div integers.
    Q("q_dup_ratio_by_source",
      s"""$minhashPairsCtes, dup_t AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT d1 AS doc_id FROM pairs_t
         |    UNION ALL SELECT d2 AS doc_id FROM pairs_t)
         |)
         |SELECT d.source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(dup_t.doc_id) AS BIGINT) AS n_dup,
         |       CAST(count(dup_t.doc_id) AS BIGINT) * 1000
         |         // CAST(count(*) AS BIGINT) AS dup_permille
         |FROM documents d LEFT JOIN dup_t ON dup_t.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val p = minhashPairs(s, dir)
      val dup = p.select(col("d1").as("doc_id"))
        .union(p.select(col("d2").as("doc_id"))).distinct()
        .withColumn("is_dup", lit(1L))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(dup, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"),
          expr("sum(coalesce(is_dup, 0L)) * 1000 div count(1)")
            .as("dup_permille"))
        .orderBy("source")
    },

    // Cross-SOURCE contamination matrix — the near-dup graph aggregated to
    // (source, source) cells: which sources mirror each other's content.
    // The matrix answer feeds two curation moves: same-source cells with
    // high counts are internal boilerplate (dedup within the source),
    // off-diagonal cells are syndication/mirroring (keep ONE of the pair
    // of sources, or dedup across them before mixing). Cell key is
    // least/greatest-normalized so each unordered source pair lands in
    // one cell. Scale shape: two doc-keyed joins attach provenance to the
    // pair frame (Θ(pairs)), then one aggregate to the |sources|²-bounded
    // matrix — the corpus itself never re-shuffles.
    Q("q_neardup_cross_source",
      s"""$minhashPairsCtes
         |SELECT least(da.source, db.source) AS src1,
         |       greatest(da.source, db.source) AS src2,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_cross
         |FROM pairs_t p JOIN documents da ON da.doc_id = p.d1
         |               JOIN documents db ON db.doc_id = p.d2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      minhashPairs(s, dir)
        .join(docs.select(col("doc_id").as("d1"), col("source").as("sa")), "d1")
        .join(docs.select(col("doc_id").as("d2"), col("source").as("sb")), "d2")
        .groupBy(least(col("sa"), col("sb")).as("src1"),
          greatest(col("sa"), col("sb")).as("src2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("sa") =!= col("sb")).cast("long")).as("n_cross"))
        .orderBy("src1", "src2")
    },

    // CONTENT-DEFINED CHUNKING dedup (the storage-dedup primitive behind
    // rsync/LBFS/FastCDC, here CDC-lite: pure rolling-gram boundaries, no
    // min/max clamp): a position p ends a chunk when the PolyHash of the
    // W-char gram ending at p is ≡ 0 mod [[ChunkDiv]] — boundaries are
    // CONTENT-anchored, so an insertion early in a document shifts only
    // the chunk it lands in and every later chunk still dedups against
    // the unshifted copy (the property fixed-width chunking lacks, and
    // the reason CDC finds shared spans exact doc-hash dedup misses).
    // Emits per-doc chunk counts and the duplicated mass: an occurrence
    // is dup iff it is not the globally-first (min doc_id·2^20 + start;
    // doc length < 2^20 documented) occurrence of its chunk hash.
    // Scale shape: the position scan is a narrow Θ(chars) explode;
    // boundary collection is per-doc bounded state (the winnowing class);
    // the ownership pass is ONE content-hash-keyed shuffle of Θ(chunks)
    // rows; per-doc aggregation keys on doc_id.
    Q("q_content_chunks",
      s"""$chunkCtes,
         |own AS (
         |  SELECT chash, min(doc_id * 1048576 + cstart) AS first_key
         |  FROM hashed GROUP BY chash)
         |SELECT h.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(h.clen) AS BIGINT) AS n_ch,
         |       CAST(sum(CASE WHEN h.doc_id * 1048576 + h.cstart <> o.first_key
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       CAST(sum(CASE WHEN h.doc_id * 1048576 + h.cstart <> o.first_key
         |                THEN h.clen ELSE 0 END) AS BIGINT) AS dup_chars
         |FROM hashed h JOIN own o USING (chash)
         |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin) { (s, dir) =>
      contentChunks(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Dedup SAVINGS CURVE over the content-defined chunks: one row per
    // chunk-popularity level n_occ with the hash count, the total mass
    // those chunks occupy, and the mass a keep-one-copy dedup at that
    // level reclaims ((n_occ − 1)·len per hash). The curve is the
    // storage/compute trade answer — "dedup chunks seen ≥ k times" reads
    // straight off it — and its tail (huge n_occ) is the boilerplate
    // detector. Two keyed aggregates past the shared chunk frame:
    // Θ(chunks) by content hash, then the bounded popularity histogram.
    Q("q_dedup_savings_curve",
      s"""$chunkCtes,
         |freq AS (
         |  SELECT chash, CAST(count(*) AS BIGINT) AS n_occ,
         |         min(clen) AS clen
         |  FROM hashed GROUP BY chash)
         |SELECT n_occ,
         |       CAST(count(*) AS BIGINT) AS n_hashes,
         |       CAST(sum(n_occ * clen) AS BIGINT) AS total_chars,
         |       CAST(sum((n_occ - 1) * clen) AS BIGINT) AS saved_chars
         |FROM freq GROUP BY n_occ ORDER BY n_occ""".stripMargin) { (s, dir) =>
      chunkFrame(Tables.documents(s, dir))
        .groupBy("chash")
        .agg(count(lit(1)).as("n_occ"), min("clen").as("clen"))
        .groupBy("n_occ")
        .agg(count(lit(1)).as("n_hashes"),
          sum(col("n_occ") * col("clen")).as("total_chars"),
          sum((col("n_occ") - 1) * col("clen")).as("saved_chars"))
        .orderBy("n_occ")
    },

    // Incremental dedup-on-ingest: a new batch (every 10th doc) against
    // the index built from the REST of the corpus — no index×index work.
    // The oracle runs the full-corpus doc-level pipeline and restricts to
    // (new, existing) pairs: every pipeline stage (band collision, size
    // bound, signature agreement, exact Jaccard) is pairwise, so the
    // incremental result must equal that restriction exactly.
    Q("q_dedup_incremental",
      s"""$minhashPairsCtes
         |SELECT CASE WHEN d1 % 10 = 0 THEN d1 ELSE d2 END AS new_doc,
         |       CASE WHEN d1 % 10 = 0 THEN d2 ELSE d1 END AS dup_of,
         |       sig_agree, inter, uni, jac
         |FROM pairs_t
         |WHERE (d1 % 10 = 0) <> (d2 % 10 = 0)
         |ORDER BY new_doc, dup_of""".stripMargin) { (s, dir) =>
      val docs  = Tables.documents(s, dir)
      val index = clusterFrameOf(docs.filter(col("doc_id") % 10 =!= 0))
      val batch = docs.filter(col("doc_id") % 10 === 0)
      incrementalNearDup(index, batch).orderBy("new_doc", "dup_of")
    },

    // RETIRE-then-ingest: the deletion face of the incremental index —
    // a LWW maintenance changelog (delete tombstones at ts=1 for
    // doc_id % 7 = 3; re-ingests at ts=2 resurrect doc_id % 14 = 3, so
    // the LWW fold is exercised for real) folds into the persisted
    // cluster index via [[retireFrom]] (member-list surgery only — no
    // re-tokenize/re-hash/re-sign), and the usual ingest batch then
    // scores against the retired index. The oracle runs the full
    // doc-level pipeline over corpus ∖ retired and restricts to
    // (new, existing) pairs: every stage is pairwise, so
    // retire(X) ∘ ingest must equal the full rebuild on corpus ∖ X
    // restricted to those pairs — which is exactly what hash-green
    // proves, on top of QueriesSpec's direct index-equality theorem.
    Q("q_dedup_retire",
      s"""${minhashPairsCtesWhere(
             " WHERE NOT (doc_id % 10 <> 0 AND doc_id % 7 = 3 AND doc_id % 14 <> 3)")}
         |SELECT CASE WHEN d1 % 10 = 0 THEN d1 ELSE d2 END AS new_doc,
         |       CASE WHEN d1 % 10 = 0 THEN d2 ELSE d1 END AS dup_of,
         |       sig_agree, inter, uni, jac
         |FROM pairs_t
         |WHERE (d1 % 10 = 0) <> (d2 % 10 = 0)
         |ORDER BY new_doc, dup_of""".stripMargin) { (s, dir) =>
      val docs  = Tables.documents(s, dir)
      val base  = docs.filter(col("doc_id") % 10 =!= 0)
      val index = clusterFrameOf(base)
      val log = base.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), lit(1L).as("ts"), lit("D").as("op"))
        .unionByName(base.filter(col("doc_id") % 14 === 3)
          .select(col("doc_id"), lit(2L).as("ts"), lit("U").as("op")))
      val batch = docs.filter(col("doc_id") % 10 === 0)
      incrementalNearDup(retireFrom(index, retiredIds(log)), batch)
        .orderBy("new_doc", "dup_of")
    },

    // Exact n-gram (word 1-gram set) Jaccard over consecutive-id pairs —
    // the deterministic all-checked slice of pairwise similarity.
    Q("q_jaccard_pairs",
      s"""WITH tk AS (SELECT doc_id, list_distinct(string_split(${normTextSql}, ' ')) AS t FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(len(list_intersect(a.t, b.t)) AS INTEGER) AS inter,
        |       CAST(len(list_distinct(list_concat(a.t, b.t))) AS INTEGER) AS uni,
        |       (len(list_intersect(a.t, b.t)) / len(list_distinct(list_concat(a.t, b.t)))) AS jac
        |FROM tk a JOIN tk b ON b.doc_id = a.doc_id + 1
        |ORDER BY d1""".stripMargin) { (s, dir) =>
      val tk = Tables.documents(s, dir).select(col("doc_id"), dtoks.as("t"))
      val a  = tk.select(col("doc_id").as("d1"), col("t").as("t1"))
      val b  = tk.select(col("doc_id").as("d2"), col("t").as("t2"))
      val inter = size(array_intersect(col("t1"), col("t2")))
      val uni   = size(array_union(col("t1"), col("t2")))
      a.join(b, col("d2") === col("d1") + 1)
        .select(col("d1"), col("d2"), inter.as("inter"), uni.as("uni"),
          (inter / uni).as("jac"))
        .orderBy("d1")
    },

    // 30-bit SimHash (occurrence-weighted) + Hamming distance to the next
    // doc id — near-dup detection by small Hamming distance.
    Q("q_simhash",
      s"""$simhashSgCtes
         |SELECT doc_id, sig,
         |       CAST(bit_count(xor(sig, lead(sig) OVER (ORDER BY doc_id))) AS INTEGER) AS ham_next
         |FROM sg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sig = sim_hash30(transform(toks, t => poly_hash(t)))
      // "next doc" = key-partitioned self-join on doc_id + 1 (doc ids are
      // dense, same contract q_jaccard_pairs relies on). A global
      // Window.orderBy("doc_id") computes the same lead() but funnels the
      // whole table through ONE task — the textbook scale-killer.
      val sg  = Tables.documents(s, dir).select(col("doc_id"), sig.as("sig"))
      val nxt = sg.select((col("doc_id") - 1).as("doc_id"), col("sig").as("sig_next"))
      sg.join(nxt, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("sig"),
          bit_count(col("sig").bitwiseXOR(col("sig_next"))).as("ham_next"))
        .orderBy("doc_id")
    },

    // ALL-pairs SimHash near-duplicates by pigeonhole banding — the
    // Manku/Jain/Sarma 2007 (WWW, "Detecting Near-Duplicates for Web
    // Crawling") layout: split the 30-bit signature into 3 bands of 10;
    // any pair within Hamming distance 2 agrees on >= 1 whole band, so a
    // band-keyed equi-join generates a COMPLETE candidate set (this is
    // exact dedup, unlike MinHash's probabilistic recall) and the
    // bit_count verify runs on candidates only. Scale shape: the shuffle
    // keys on (band, 10-bit key) — Θ(docs × bands) rows out, Θ(Σ
    // bucket²) candidate work, never corpus²; the verify is a codegen'd
    // xor/bit_count on two longs. Same-key mega-buckets (a corpus of
    // near-identical boilerplate) are the AQE-skew/salting case the
    // MinHash banding already covers (SCALING.md).
    Q("q_simhash_pairs",
      s"""$simhashSgCtes, bands AS (
         |  SELECT doc_id, sig, b,
         |         (sig >> (b * $SimBandW)) & ${(1 << SimBandW) - 1} AS key
         |  FROM sg, range(0, $SimBands) t(b)
         |), cand AS (
         |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
         |         l.sig AS sig1, r.sig AS sig2
         |  FROM bands l JOIN bands r
         |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
         |)
         |SELECT d1, d2,
         |       CAST(bit_count(xor(sig1, sig2)) AS INTEGER) AS ham
         |FROM cand WHERE bit_count(xor(sig1, sig2)) <= $SimHamMax
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      simhashPairsFrom(Tables.documents(s, dir)).orderBy("d1", "d2")
    },

    // PRODUCTION-WIDTH SimHash pairs: 128-bit fingerprints (the Norouzi
    // MIH evaluation width) probed by the multi-index Hamming engine —
    // Similarity.mihChunksFor picks 9 chunks of ≤ 15 bits at radius
    // floor(8/9) = 0 (at sf0.001, sf0.01 and sf0.1), so each chunk probes
    // its exact key, one mask. Pigeonhole: ham ≤ 8 over 9 chunks leaves
    // some chunk untouched — the index finds
    // EVERY qualifying pair, and the oracle IS the brute-force all-pairs
    // scan, so hash-green re-proves completeness at this width (the
    // q_hamming_mih contract, now on the TEXT dedup plane). The 2×-wider
    // code buys output precision: P(Binom(128,½) ≤ 8) ≈ 5e-25 background
    // pairs vs ≈ 2e-5 for 30-bit ham ≤ 2. Scale shape: per doc
    // 9 chunk keys × 1 probe through one SHUFFLE_HASH-pinned join —
    // Θ(docs × 9) probe rows, never all-pairs.
    Q("q_simhash_pairs128",
      s"""WITH wd AS (
         |${simhash128WordsSelect}
         |)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
         |            + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3))
         |         AS INTEGER) AS ham
         |FROM wd a JOIN wd b ON b.doc_id > a.doc_id
         |WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
         |      + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)) <= $Sim128Tau
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      simhash128Pairs(s, dir).orderBy("d1", "d2")
    },

    // Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    // SIGMOD 2003 — the MOSS algorithm): hash every [[WinK]]-token gram,
    // slide a window of [[WinW]] consecutive gram hashes, select the MIN
    // hash per window with ties broken RIGHTMOST, and keep the distinct
    // (pos, hash) selections. Guarantees: any shared run of WinK + WinW - 1
    // tokens yields a shared fingerprint (detection), and density is
    // ~2/(WinW+1) regardless of content (storage bound) — the local
    // fingerprinting family that MinHash (global set resemblance) and
    // SimHash (global bit signature) do not cover.
    //
    // The rightmost-min selection is ONE window pass, no self-join: the
    // composite key h·2^20 − pos is minimized exactly at (min h, max pos)
    // since pos < 2^20, and h = ceil(k/2^20), pos = h·2^20 − k recover
    // both components. All-integer → cross-engine exact. Scale shape: the
    // gram explode is narrow, the single window keys on doc_id (per-doc
    // bounded state), DISTINCT keys on the fingerprint — nothing global.
    Q("q_winnowing",
      s"""$winnowFpCtes
         |SELECT DISTINCT doc_id,
         |       CAST((mk + $WinB - 1) // $WinB AS BIGINT) AS h,
         |       CAST(((mk + $WinB - 1) // $WinB) * $WinB - mk AS BIGINT) AS pos
         |FROM w WHERE rn >= $WinW
         |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      winnowFps(Tables.documents(s, dir))
        .orderBy("doc_id", "pos")
    },

    // MOSS-style CONTAINMENT scoring over the winnowing fingerprints —
    // the asymmetric near-dup detector (a short doc pasted inside a long
    // one scores high containment but LOW Jaccard, so the MinHash/SimHash
    // planes miss it; Schleimer et al. 2003 §5 is exactly this use).
    // Candidates come from the fingerprint-keyed self-join — winnowed
    // k-gram hashes are position-selected and content-rare, so posting
    // lists stay short where raw-token postings degenerate (the reason
    // the token-postings containment variant was rejected). Emits every
    // sharing pair with exact integer shared/|FP| counts and the
    // max-containment ≥ 1/2 flag decided by integer comparison.
    Q("q_winnowing_containment",
      s"""$winnowFpCtes,
         |fp AS (SELECT DISTINCT doc_id, (mk + $WinB - 1) // $WinB AS h
         |       FROM w WHERE rn >= $WinW),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nv FROM fp GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS shared
         |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, shared, za.nv AS nv1, zb.nv AS nv2,
         |       CAST(CASE WHEN 2 * shared >= least(za.nv, zb.nv)
         |                 THEN 1 ELSE 0 END AS INTEGER) AS strong
         |FROM p JOIN sz za ON za.doc_id = d1 JOIN sz zb ON zb.doc_id = d2
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val fp = winnowFps(Tables.documents(s, dir)).select("doc_id", "h").distinct()
      val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("nv"))
      val p = fp.as("a").join(fp.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("shared"))
      p.join(sz.select(col("doc_id").as("d1"), col("nv").as("nv1")), "d1")
        .join(sz.select(col("doc_id").as("d2"), col("nv").as("nv2")), "d2")
        .select(col("d1"), col("d2"), col("shared"), col("nv1"), col("nv2"),
          (col("shared") * 2 >= least(col("nv1"), col("nv2")))
            .cast("int").as("strong"))
        .orderBy("d1", "d2")
    },

    // MinHash sketch CALIBRATION: the sig_agree → exact-Jaccard curve
    // over EVERY banded candidate, with no size prefilter, agreement
    // floor, or τ cut — the measured answer to "what threshold should
    // MinSigAgree be?" (E[sig_agree] = NumPerms·J; the curve shows the
    // spread the expectation hides). One row per agreement level with
    // the exact integer pair count and intersection/union mass — the
    // operator that justifies the production pipeline's 14-of-16 floor
    // empirically rather than by folklore. Candidate volume is still
    // band-bounded (Θ(collisions), never all pairs); the aggregate is
    // 17 rows whatever the corpus.
    Q("q_minhash_calibration",
      s"""${minhashCandCtesWhere("")}, fullj AS (
         |  SELECT sig_agree,
         |         CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
         |         CAST(len(list_distinct(list_concat(a.t, b.t))) AS BIGINT) AS uni
         |  FROM est JOIN tk a ON a.doc_id = d1 JOIN tk b ON b.doc_id = d2)
         |SELECT sig_agree, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(inter) AS BIGINT) AS sum_inter,
         |       CAST(sum(uni) AS BIGINT) AS sum_uni
         |FROM fullj GROUP BY sig_agree
         |ORDER BY sig_agree""".stripMargin) { (s, dir) =>
      // cluster-pair rows weighted by member-pair multiplicity: the
      // weighted sums equal the doc-level count/sums exactly
      bandedCandidatesAll(s, dir)
        .groupBy("sig_agree")
        .agg(sum("n_pair").as("n_pairs"),
          sum(expr("inter * n_pair")).as("sum_inter"),
          sum(expr("uni * n_pair")).as("sum_uni"))
        .orderBy("sig_agree")
    }
  )

  /** Shared oracle CTE chain for the content-defined chunk frame
    * (b → ch → hashed) — q_content_chunks / q_dedup_savings_curve.
    */
  private def chunkCtes: String =
    s"""WITH b AS (
       |  SELECT doc_id, text, length(text) AS n,
       |         list_sort(list_distinct(list_append(
       |           [p for p in range($ChunkW, length(text) + 1)
       |            if ${hashSql(s"substr(text, p - ${ChunkW - 1}, $ChunkW)")} % $ChunkDiv = 0],
       |           length(text)))) AS ends
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, z[1] AS p, z[2] AS e
       |  FROM (SELECT doc_id,
       |          unnest(list_zip(list_prepend(0, ends[1:len(ends)-1]),
       |                          ends)) AS z
       |        FROM b) t),
       |hashed AS (
       |  SELECT doc_id, p + 1 AS cstart, e - p AS clen,
       |         ${hashSql("substr(text, p + 1, e - p)")} AS chash
       |  FROM ch JOIN documents USING (doc_id))""".stripMargin

  /** The (doc_id, cstart, clen, chash) chunk frame behind
    * q_content_chunks / q_dedup_savings_curve.
    */
  private[graft] def chunkFrame(docs: DataFrame): DataFrame = {
    // spread: the per-position rolling-hash explode below is scan-stage
    // work — serialized on the single-row-group fixture file otherwise
    val base = Tables.spread(docs)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
    val bounds = base.filter(col("n") >= ChunkW)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(ChunkW), col("n"))).as("p"))
      .filter(poly_hash(expr(
        s"substring(text, p - ${ChunkW - 1}, $ChunkW)")) % ChunkDiv === 0)
      .groupBy("doc_id").agg(sort_array(collect_set("p")).as("bs"))
    val ends = base.join(bounds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        array_sort(array_distinct(concat(
          coalesce(col("bs"), array()),
          array(col("n"))))).as("ends"))
    val hashed = ends
      .select(col("doc_id"), col("text"),
        explode(arrays_zip(
          concat(array(lit(0)), expr("slice(ends, 1, size(ends) - 1)"))
            .as("p0"),
          col("ends").as("e0"))).as("z"))
      .select(col("doc_id"),
        (col("z.p0") + 1).as("cstart"),
        (col("z.e0") - col("z.p0")).as("clen"),
        poly_hash(expr("substring(text, z.p0 + 1, z.e0 - z.p0)"))
          .as("chash"))
    hashed
  }

  /** Content-defined chunking dedup per doc — see q_content_chunks for
    * semantics.
    */
  private[graft] def contentChunks(docs: DataFrame): DataFrame = {
    val hashed = chunkFrame(docs)
    val own = hashed.groupBy("chash")
      .agg(min(col("doc_id") * 1048576 + col("cstart")).as("first_key"))
    hashed.join(own, "chash")
      .withColumn("isdup",
        (col("doc_id") * 1048576 + col("cstart") =!= col("first_key"))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("clen").as("n_ch"),
        sum("isdup").as("n_dup"),
        sum(col("isdup") * col("clen")).as("dup_chars"))
  }

  /** Ingest-time chunk NOVELTY against a frozen chunk-hash index (the
    * distinct `chash` set of the indexed corpus): per incoming doc, its
    * content-defined chunks joined against the index — n_known chunks /
    * known_chars already present, novelty in exact permille of chars.
    * The CDC value proposition at ingest: a re-upload scores 0 novelty,
    * a doc that PASTES half an indexed doc around fresh text scores
    * partial novelty — the case whole-doc hashing misclassifies as fully
    * novel. Decisions depend only on (doc, frozen index), never batch
    * peers or arrival order, so batch ≡ stream by construction
    * ([[graft.streaming.Streams.chunkNoveltyIngest]]; StreamingSpec
    * asserts equality). Scale: Θ(batch chunks) probe rows against the
    * chash-keyed index join — the stream-static join shape.
    */
  private[graft] def chunkNovelty(index: DataFrame, docs: DataFrame): DataFrame = {
    val known = index.select(col("chash")).distinct()
      .withColumn("is_known", lit(1L))
    chunkFrame(docs)
      .join(known, Seq("chash"), "left")
      .withColumn("k", coalesce(col("is_known"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("k").as("n_known"),
        sum("clen").as("n_ch"),
        sum(col("k") * col("clen")).as("known_chars"))
      .withColumn("novelty_permille",
        expr("(n_ch - known_chars) * 1000 div n_ch"))
  }

  /** CLUSTER-PLANE calibration candidates (round 15): one row per banded
    * candidate TOKEN-SET-cluster pair (plus one per ≥2-member cluster for
    * its intra pairs), weighted by the member-pair multiplicity `n_pair`.
    * sig_agree / inter / uni are functions of the two token SETS alone,
    * and two docs collide in a band iff their clusters' signatures share
    * that band key — so the doc-level candidate set is exactly the member
    * cross-product of colliding cluster pairs plus all intra-cluster
    * pairs (identical signatures always collide), and the weighted rows
    * aggregate to the identical curve (MinhashCalibrationSpec proves it
    * against the doc-level reference). This replaces the tile-decomposed
    * doc-level self-join: the measured hot band bucket (3,847 of 5,000
    * docs on ONE key) is duplicate mass that collapses to a handful of
    * cluster rows, so the skew the tiles existed to spread disappears,
    * and the per-pair array intersections drop from Θ(doc pairs) to
    * Θ(cluster pairs).
    */
  private def bandedCandidatesAll(s: SparkSession, dir: String): DataFrame = {
    val clusters = clusterFrame(s, dir)
    val sz = clusters.select(col("cid"), col("th"), col("sig"),
      size(col("ms")).cast("long").as("cnt"))
    val bands = bandRows(sz, col("cid"))
    val cand = bands.join(
        bands.select(col("cid").as("cid2"), col("band").as("band2"),
          col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("cid") < col("cid2"))
      .select("cid", "cid2").distinct()
    val l = sz.select(col("cid"), col("sig").as("sig1"), col("th").as("h1"),
      col("cnt").as("c1"))
    val r = sz.select(col("cid").as("cid2"), col("sig").as("sig2"),
      col("th").as("h2"), col("cnt").as("c2"))
    val interC = cand.join(l, "cid").join(r, "cid2")
      .select(sigAgree.as("sig_agree"), interSize.cast("long").as("inter"),
        unionSize.cast("long").as("uni"),
        (col("c1") * col("c2")).as("n_pair"))
    val intraC = sz.filter(col("cnt") >= 2)
      .select(lit(NumPerms).as("sig_agree"),
        size(col("th")).cast("long").as("inter"),
        size(col("th")).cast("long").as("uni"),
        expr("cnt * (cnt - 1) div 2").as("n_pair"))
    interC.unionByName(intraC)
  }

  /** Winnowing fingerprint frame (doc_id, h, pos) over an explicit
    * documents frame — shared by q_winnowing and the containment scorer.
    */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    // spread: k-gram explode + hashing is scan-stage work (see
    // Tables.spread) — the window below already re-keys by doc_id
    val grams = Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= WinK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - $WinK + 1), " +
        s"i -> concat_ws(' ', slice(toks, i, $WinK)))"))
        .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        poly_hash(col("gram")).as("h"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    grams
      .withColumn("ck", col("h") * WinB - col("pos"))
      .withColumn("mk", min("ck").over(byPos.rowsBetween(-(WinW - 1), 0)))
      .withColumn("rn", row_number().over(byPos))
      .filter(col("rn") >= WinW)
      .select(col("doc_id"),
        expr(s"(mk + ${WinB - 1}) div $WinB").as("h"),
        expr(s"((mk + ${WinB - 1}) div $WinB) * $WinB - mk").as("pos"))
      .distinct()
  }

  /** The winnowing CTE chain up to windowed minima `w` (shared by the two
    * winnowing oracles).
    */
  private def winnowFpCtes: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  -- comprehension var is gp, NOT i: hashSql's inner lambda binds i
       |  -- and would capture/shadow it (observed: wrong hashes past pos 4)
       |  SELECT doc_id,
       |         unnest([struct_pack(pos := gp,
       |                  h := ${hashSql("array_to_string(toks[gp:gp+" + (WinK - 1) + "], ' ')")})
       |                 for gp in range(1, len(toks) - $WinK + 2)]) AS u
       |  FROM t WHERE len(toks) >= $WinK),
       |k AS (
       |  SELECT doc_id, u.pos AS pos, u.h * $WinB - u.pos AS ck,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY u.pos) AS rn
       |  FROM g),
       |w AS (
       |  SELECT doc_id, rn,
       |         min(ck) OVER (PARTITION BY doc_id ORDER BY rn
       |           ROWS BETWEEN ${WinW - 1} PRECEDING AND CURRENT ROW) AS mk
       |  FROM k)""".stripMargin
}
