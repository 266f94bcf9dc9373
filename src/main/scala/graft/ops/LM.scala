package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Language-model document scoring — the model-based half of corpus quality
  * filtering: interpolated bigram negative log-likelihood (the KenLM-style
  * perplexity gate of CCNet, Wenzek et al. 2020, at bigram order) and
  * DSIR-style importance weights (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling": rank raw documents by the
  * log-ratio of an in-domain LM to the raw-corpus LM).
  *
  * Both use the engine's micro-nat rule (see q_unigram_logprob): every
  * libm ln() is snapped to integer micro-nats on the MODEL frame (one row
  * per distinct bigram / token — vocabulary-sized, not corpus-sized), so
  * all per-document aggregation is exact integer arithmetic with no FP
  * addition-order drift, cross-engine and cross-partitioning.
  *
  * Scale shape: two corpus passes — model ESTIMATION (gram aggregation
  * down to the vocabulary-sized count frames) and SCORING (per-doc gram
  * aggregation + one keyed join against the model frame) — the CCNet
  * layout; at 100 TB the estimation pass's gram frame would persist
  * between the two. All shuffles key on high-cardinality grams/tokens;
  * the conditional-context counts come from the bigram table itself
  * (Σ_w2 c2(w1,w2)), never a separate scan; SCALING.md records the whole
  * pipeline sub-linear (7× wall for 50× corpus).
  */
object LM {

  /** Interpolation weight on the bigram term (rest on the unigram). */
  final val LambdaNum = 3
  final val LambdaDen = 4

  /** DSIR in-domain proxy: documents from this source. */
  final val TargetSource = "src0"

  /** Rows surfaced by the DSIR top-k selection. */
  final val DsirTopK = 100

  /** Collocation mining: minimum bigram count (hapax bigrams make PMI a
    * rare-word detector, not a collocation detector) and rows surfaced.
    */
  final val PmiMinCount = 5
  final val PmiTopK = 100

  /** (keep…, p STRUCT(w1, w2)): one row per adjacent token pair of each
    * document. Callers group on `col("p.w1").as("w1")` directly — a
    * separate select of w1/w2 here grows the generated methods.
    */
  private def bigrams(docs: DataFrame, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ split(col("text"), " ").as("toks"): _*)
      .filter(size(col("toks")) >= 2)
      .select(keep.map(col) :+ explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
        .as("p"): _*)

  /** (w1, w2, c2): corpus-wide adjacent-pair counts. */
  private def bigramCounts(docs: DataFrame): DataFrame =
    bigrams(docs)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))

  /** (tok, c1): corpus-wide token counts. */
  private def unigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))

  /** Kneser–Ney bigram table over an explicit documents frame — the
    * engine side of q_kneser_ney (see the query comment for the exact
    * rational formulation).
    */
  private[graft] def kneserNeyFrom(docs: DataFrame): DataFrame = {
    val c2  = bigramCounts(docs)
    val c1  = c2.groupBy("w1").agg(sum("c2").as("c1c"), count(lit(1)).as("n1p"))
    val nc  = c2.groupBy("w2").agg(count(lit(1)).as("nc"))
    val tot = c2.agg(count(lit(1)).as("nt"))
    c2.join(c1, "w1").join(nc, "w2").crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c2"),
        expr("((4 * c2 - 3) * nt + 3 * n1p * nc) * 1000000 div (4 * c1c * nt)")
          .as("p_kn_micro"),
        expr("(3 * n1p * 1000000) div (4 * c1c)").as("lambda_micro"))
  }

  /** The bigram-NLL pipeline over an explicit documents frame. */
  private[graft] def bigramNllFrom(docs: DataFrame): DataFrame = {
    // Round 16, measured and REVERTED (kept as-was): both spread and a
    // localCheckpoint of the shared bigram subtree regressed this query.
    // spread inflated cold-count CPU 2.8 → 17.9 s (the naiveBayesLang
    // round-15 pattern: the parallel explode multiplies per-task partial-
    // aggregation work); a checkpoint of bg (the subtree is consumed by
    // three plan branches) measured a wash standalone but 2.0 → 3.9 s
    // in-bench, rerun-confirmed — the ~4M-row materialization costs more
    // than the duplicated serial explode saves at this scale.
    val bg = bigrams(docs, "doc_id")
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val c2 = bg.groupBy("w1", "w2").agg(sum("n").as("c2"))
    val c1ctx = c2.groupBy("w1").agg(sum("c2").as("c1c"))
    val uni = unigramCounts(docs)
    val tot = uni.agg(sum("c1").as("nt"))
    // model frame: one row per distinct OBSERVED bigram; all joins below
    // key on grams/tokens (no hints — AQE broadcasts while vocab is small)
    val lp = c2.join(c1ctx, "w1")
      .join(uni.withColumnRenamed("tok", "w2"), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(log(lit(LambdaNum.toDouble / LambdaDen) * col("c2") / col("c1c")
          + lit(1.0 / LambdaDen) * col("c1") / col("nt")) * 1000000)
          .cast("long").as("lp_micro"))
    bg.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        (-sum(col("n") * col("lp_micro"))).as("nll_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
        (col("nll_micro") / col("n_bigrams")).as("avg_nll_micro"))
      .orderBy("doc_id")
  }

  val queries: Seq[Q] = Seq(

    // Interpolated bigram NLL per document:
    //   p(w2|w1) = 3/4 · c2(w1,w2)/c1ctx(w1) + 1/4 · c1(w2)/N
    // with c1ctx(w1) = Σ_w2 c2(w1,w2) (left-context mass, derived from the
    // bigram table so both engines share one definition). Each distinct
    // bigram's ln(p) snaps to micro-nats; per-doc totals are integer sums.
    // Low avg_nll ≈ fluent/common text, high ≈ atypical — the
    // perplexity-gate signal.
    Q("q_bigram_nll",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT doc_id,
         |          unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
         |                  for i in range(1, len(toks))]) AS p
         |        FROM t WHERE len(toks) >= 2)
         |  GROUP BY doc_id, p.w1, p.w2),
         |c2 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
         |c1ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1c FROM c2 GROUP BY w1),
         |uni AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS nt FROM uni),
         |lp AS (
         |  SELECT c2.w1, c2.w2,
         |         CAST(round(ln($LambdaNum.0 / $LambdaDen * c2.c2 / c1c.c1c
         |                     + 1.0 / $LambdaDen * uni.c1 / tot.nt) * 1000000)
         |           AS BIGINT) AS lp_micro
         |  FROM c2
         |  JOIN c1ctx c1c USING (w1)
         |  JOIN uni ON uni.tok = c2.w2
         |  CROSS JOIN tot)
         |SELECT bg.doc_id,
         |       CAST(sum(bg.n) AS BIGINT) AS n_bigrams,
         |       CAST(-sum(bg.n * lp.lp_micro) AS BIGINT) AS nll_micro,
         |       (CAST(-sum(bg.n * lp.lp_micro) AS BIGINT)
         |         / CAST(sum(bg.n) AS BIGINT)) AS avg_nll_micro
         |FROM bg JOIN lp USING (w1, w2)
         |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin) { (s, dir) =>
      bigramNllFrom(Tables.documents(s, dir))
    },

    // Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; Chen &
    // Goodman 1999 eq. 4.25) — the standard n-gram smoother: absolute
    // discount d = 3/4 off every observed bigram, the freed mass
    // λ(w1) = d·N1+(w1·)/c(w1) backing off to the CONTINUATION unigram
    // P_cont(w2) = N1+(·w2)/N1+(··) (how many contexts a word follows —
    // "Francisco" is frequent but only ever follows "San", so its
    // continuation probability is tiny). With d rational, every
    // probability is an exact integer ratio:
    //   p = [(4·c2 − 3)·Nt + 3·N1p(w1)·Ncont(w2)] / (4·c1c(w1)·Nt)
    // carried in micro units by one trunc-div — NO libm anywhere (the
    // first LM-plane query with zero float steps; magnitude budget:
    // num·10⁶ ≤ 4·c2·Nt·10⁶ ≈ 2^58 at sf0.1). LMSpec proves per-context
    // normalization: observed mass + λ·(unseen continuation mass) = 1
    // exactly, from the emitted integers. Scale shape: one corpus
    // shuffle to the bigram-type frame; every other aggregate and join
    // is vocab-sized (AQE broadcasts them while small).
    Q("q_kneser_ney",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c2 AS (
        |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM (SELECT unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
        |                for i in range(1, len(toks))]) AS p
        |        FROM t WHERE len(toks) >= 2)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1c,
        |              CAST(count(*) AS BIGINT) AS n1p
        |       FROM c2 GROUP BY w1),
        |nc AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM c2 GROUP BY w2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c2)
        |SELECT c2.w1, c2.w2, c2.c2,
        |       CAST(((4 * c2.c2 - 3) * tot.nt + 3 * c1.n1p * nc.nc) * 1000000
        |            // (4 * c1.c1c * tot.nt) AS BIGINT) AS p_kn_micro,
        |       CAST((3 * c1.n1p * 1000000) // (4 * c1.c1c) AS BIGINT)
        |         AS lambda_micro
        |FROM c2 JOIN c1 USING (w1) JOIN nc USING (w2) CROSS JOIN tot
        |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
      kneserNeyFrom(Tables.documents(s, dir)).orderBy("w1", "w2")
    },

    // DSIR-style importance selection: per-token log-ratio
    //   lw(w) = ln( p_target(w) / p_raw(w) ),   Laplace-smoothed
    // (+1 / +V) so tokens unseen in-domain stay finite; token identity is
    // the feature at fixture vocab (at 100 TB hash features into B buckets
    // first — same plan, the model frame becomes B rows). Per-doc weight =
    // Σ tf·lw_micro (exact integers); the top-[[DsirTopK]] selection plans
    // as TakeOrderedAndProject. Downstream, weights feed the existing
    // weighted priority sampler for the actual resample.
    Q("q_dsir_weights",
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM toks GROUP BY doc_id, tok),
         |raw AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr FROM toks GROUP BY tok),
         |tgt AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM toks
         |  WHERE source = '$TargetSource' GROUP BY tok),
         |sizes AS (
         |  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
         |         (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v,
         |         (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS nt),
         |lw AS (
         |  SELECT raw.tok,
         |         CAST(round(ln((CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / (nt + v))
         |                     / (CAST(raw.cr + 1 AS DOUBLE) / (nr + v))) * 1000000)
         |           AS BIGINT) AS lw_micro
         |  FROM raw LEFT JOIN tgt USING (tok) CROSS JOIN sizes)
         |SELECT doc_id,
         |       CAST(sum(tf.tf) AS BIGINT) AS n_tok,
         |       CAST(sum(tf.tf * lw.lw_micro) AS BIGINT) AS weight_micro
         |FROM tf JOIN lw USING (tok)
         |GROUP BY doc_id
         |ORDER BY weight_micro DESC, doc_id LIMIT $DsirTopK""".stripMargin) {
      (s, dir) =>
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
        val tf  = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val raw = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
        val tgt = toks.filter(col("source") === TargetSource)
          .groupBy("tok").agg(count(lit(1)).as("ct"))
        // three single-value aggregates fused into one 1-row frame (the
        // allowlisted pinned-broadcast class)
        val sizes = raw.agg(sum("cr").as("nr"), count(lit(1)).as("v"))
          .crossJoin(tgt.agg(coalesce(sum("ct"), lit(0L)).as("nt")))
        val lw = raw.join(tgt, Seq("tok"), "left")
          .crossJoin(broadcast(sizes))
          .select(col("tok"),
            round(log(((coalesce(col("ct"), lit(0L)) + 1).cast("double")
              / (col("nt") + col("v")))
              / ((col("cr") + 1).cast("double") / (col("nr") + col("v"))))
              * 1000000).cast("long").as("lw_micro"))
        tf.join(lw, "tok")
          .groupBy("doc_id")
          .agg(sum("tf").as("n_tok"),
            sum(col("tf") * col("lw_micro")).as("weight_micro"))
          .orderBy(col("weight_micro").desc, col("doc_id"))
          .limit(DsirTopK)
    },

    // PMI collocation mining: rank adjacent-pair bigrams by pointwise
    // mutual information  pmi(w1,w2) = ln( N·c2(w1,w2) / (c1(w1)·c1(w2)) )
    // over corpus-position counts (N = token positions, c1 = unigram
    // positions, c2 = adjacent-pair positions). High PMI + a count floor
    // (≥ [[PmiMinCount]]) = phrases whose parts co-occur far above chance —
    // the classic collocation/multi-word-expression signal (Church & Hanks
    // 1990). ln snaps to micro-nats on the bigram MODEL frame (vocabulary-
    // sized); ordering and the count floor are exact integers.
    //
    // Scale shape: one corpus pass down to the gram frames; two token-keyed
    // joins (c2→c1(w1), c2→c1(w2)); the corpus-size total is the pinned
    // single-row broadcast class; final selection is a global top-k
    // (TakeOrderedAndProject — no full sort materializes).
    Q("q_pmi_collocations",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |c2 AS (
         |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM (SELECT unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
         |                       for i in range(1, len(toks))]) AS p
         |        FROM t WHERE len(toks) >= 2)
         |  GROUP BY p.w1, p.w2),
         |uni AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS nt FROM uni)
         |SELECT w1, w2, c2,
         |       CAST(round(ln(CAST(nt AS DOUBLE) * c2 / (u1.c1 * u2.c1))
         |                  * 1000000) AS BIGINT) AS pmi_micro
         |FROM c2
         |JOIN uni u1 ON u1.tok = c2.w1
         |JOIN uni u2 ON u2.tok = c2.w2
         |CROSS JOIN tot
         |WHERE c2 >= $PmiMinCount
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT $PmiTopK""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val c2 = bigramCounts(docs).filter(col("c2") >= PmiMinCount)
        val uni = unigramCounts(docs)
        val tot = uni.agg(sum("c1").as("nt"))
        c2.join(uni.select(col("tok").as("w1"), col("c1").as("c1_w1")), "w1")
          .join(uni.select(col("tok").as("w2"), col("c1").as("c1_w2")), "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("c2"),
            round(log(col("nt").cast("double") * col("c2")
              / (col("c1_w1") * col("c1_w2"))) * 1000000)
              .cast("long").as("pmi_micro"))
          .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
          .limit(PmiTopK)
    },

    // Multinomial Naive Bayes language classifier over BIGRAM features
    // (McCallum & Nigam 1998's event model), Laplace-smoothed — the
    // supervised-training member of the LM family (prototyped alternatives
    // and the rejection rationale: the design note in [[Clustering]]).
    // Training is ONE corpus pass down to the (class, feature) count frame;
    // there is no iteration, which is what makes a count-based trainer the
    // scale-correct choice. Scoring uses the SPARSE decomposition
    //   score(d,c) = prior(c) + n_d·lp0(c) + Σ_{f∈d∩c} tf·(lp(c,f) − lp0(c))
    // so the model frame stays observed-(c,f)-sized and a document only
    // joins features it contains — the dense V×C grid never materializes
    // (at 100 TB vocab it couldn't). The per-doc × class base is a
    // broadcast crossJoin against the |classes|-row frame (the bounded
    // dimension class, like the CMS range(0,4) fan-out). All log-probs
    // snap to micro-nats on model frames (the house rule above); scores,
    // argmax, and the lang tiebreak are exact integer/string comparisons —
    // oracle-checked cell-for-cell, and LMSpec gates training accuracy
    // well above the majority-class baseline.
    Q("q_naive_bayes_lang",
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
        |bg AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ts)),
        |                               i -> ts[i] || ' ' || ts[i+1])) AS f
        |  FROM t),
        |tf AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS tf
        |       FROM bg GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS nf
        |         FROM tf GROUP BY 1),
        |cf AS (SELECT lang, f, CAST(count(*) AS BIGINT) AS n
        |       FROM bg GROUP BY 1, 2),
        |totc AS (SELECT lang, CAST(sum(n) AS BIGINT) AS totf FROM cf GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS v FROM bg),
        |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS ndc
        |       FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |cls AS (
        |  SELECT totc.lang, totf,
        |         CAST(round(ln(1.0 / (totf + v)) * 1000000) AS BIGINT) AS lp0,
        |         CAST(round(ln(CAST(ndc AS DOUBLE) / n) * 1000000) AS BIGINT)
        |           AS prior
        |  FROM totc JOIN nd USING (lang) CROSS JOIN vv CROSS JOIN nn),
        |grid AS (
        |  SELECT cf.lang, cf.f,
        |         CAST(round(ln(CAST(cf.n + 1 AS DOUBLE) / (cls.totf + vv.v))
        |                    * 1000000) AS BIGINT) - cls.lp0 AS dlp
        |  FROM cf JOIN cls USING (lang) CROSS JOIN vv),
        |sparse AS (
        |  SELECT tf.doc_id, g.lang, CAST(sum(tf.tf * g.dlp) AS BIGINT) AS sd
        |  FROM tf JOIN grid g USING (f) GROUP BY 1, 2),
        |scores AS (
        |  SELECT d.doc_id, c.lang AS cls,
        |         c.prior + d.nf * c.lp0 + coalesce(s.sd, 0) AS score
        |  FROM dlen d CROSS JOIN cls c
        |  LEFT JOIN sparse s ON s.doc_id = d.doc_id AND s.lang = c.lang),
        |top AS (
        |  SELECT doc_id, cls, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, cls) AS rn
        |  FROM scores)
        |SELECT t.doc_id, d.lang, t.cls AS pred,
        |       CAST(t.score AS BIGINT) AS score_micro,
        |       CAST(CASE WHEN t.cls = d.lang THEN 1 ELSE 0 END AS INTEGER)
        |         AS correct
        |FROM top t JOIN documents d USING (doc_id)
        |WHERE rn = 1 ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      naiveBayesLang(Tables.documents(s, dir))
    }
  )

  /** Bigram feature frame (doc_id[, lang], f) for an explicit documents
    * frame — shared by NB training and scoring.
    */
  private def nbFeatures(docs: DataFrame, withLang: Boolean): DataFrame = {
    val keep = if (withLang) Seq(col("doc_id"), col("lang")) else Seq(col("doc_id"))
    docs.select(keep :+ split(col("text"), " ").as("ts"): _*)
      .filter(size(col("ts")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> concat(ts[i], ' ', ts[i + 1]))"))
        .as("f"): _*)
  }

  /** NB TRAINING: one corpus pass down to the model frames —
    * (lang, f, dlp) sparse grid and the (lang, lp0, prior) class frame.
    * Both are bounded model state (observed class-feature pairs / the
    * label taxonomy); at serving time they are the FROZEN side a stream
    * joins against per trigger through [[nbScore]].
    */
  private[graft] def nbModel(docs: DataFrame): (DataFrame, DataFrame) = {
    val bg   = nbFeatures(docs, withLang = true)
    val cf   = bg.groupBy("lang", "f").agg(count(lit(1)).as("n"))
    val totc = cf.groupBy("lang").agg(sum("n").as("totf"))
    val vv   = bg.agg(countDistinct("f").as("v")) // single-row total
    val nd   = docs.groupBy("lang").agg(count(lit(1)).as("ndc"))
    val nn   = docs.agg(count(lit(1)).as("n"))    // single-row total
    val cls = totc.join(nd, "lang")
      .crossJoin(broadcast(vv)).crossJoin(broadcast(nn))
      .select(col("lang"), col("totf"),
        round(log(lit(1.0) / (col("totf") + col("v"))) * 1000000)
          .cast("long").as("lp0"),
        round(log(col("ndc").cast("double") / col("n")) * 1000000)
          .cast("long").as("prior"))
    val grid = cf.join(cls, "lang").crossJoin(broadcast(vv))
      .select(col("lang"), col("f"),
        (round(log((col("n") + 1).cast("double") / (col("totf") + col("v")))
          * 1000000).cast("long") - col("lp0")).as("dlp"))
    (grid, cls.select(col("lang"), col("lp0"), col("prior")))
  }

  /** NB SCORING against a given model: sparse per-doc feature join +
    * the |classes|-bounded base crossJoin; argmax with the lang tiebreak.
    * Returns (doc_id, pred, score_micro).
    */
  private[graft] def nbScore(docs: DataFrame, grid: DataFrame,
      cls: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf   = nbFeatures(docs, withLang = false)
      .groupBy("doc_id", "f").agg(count(lit(1)).as("tf"))
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("nf"))
    val sparse = tf.join(grid, "f")
      .groupBy("doc_id", "lang").agg(sum(col("tf") * col("dlp")).as("sd"))
    val sparseR = sparse.select(col("doc_id").as("s_doc"),
      col("lang").as("s_cls"), col("sd"))
    val scores = dlen.crossJoin(broadcast(cls.select(
        col("lang").as("cls"), col("lp0"), col("prior"))))
      .join(sparseR,
        col("doc_id") === col("s_doc") && col("cls") === col("s_cls"), "left")
      .select(col("doc_id"), col("cls"),
        (col("prior") + col("nf") * col("lp0")
          + coalesce(col("sd"), lit(0L))).as("score"))
    scores.withColumn("rn",
      row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cls"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cls").as("pred"),
        col("score").as("score_micro"))
  }

  /** The NB train+score pipeline over an explicit documents frame. See
    * q_naive_bayes_lang for the math.
    */
  private[graft] def naiveBayesLang(docs: DataFrame): DataFrame = {
    // NOT spread (round 15, measured): parallelizing the scan stage here
    // INFLATED total CPU ~8× (per-task model-frame setup dominates the
    // narrow per-row work) and the wall regressed 3.9 → 4.8 s — the
    // opposite trade of the tfidf/cluster pipelines.
    val (grid, cls) = nbModel(docs)
    nbScore(docs, grid, cls)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred"), col("score_micro"),
        (col("pred") === col("lang")).cast("int").as("correct"))
      .orderBy("doc_id")
  }
}
