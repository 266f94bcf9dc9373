package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Q, Tables}

/** Byte-pair-encoding tokenizer TRAINING as a distributed pipeline — the
  * corpus-side half of what SentencePiece/HF tokenizers do on one machine
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units"). A 100 TB tokenizer build is exactly this decomposition:
  *
  *  1. ONE corpus shuffle: word → frequency (the only pass that touches
  *     every token; Heaps' law makes the distinct-word frame orders of
  *     magnitude smaller than the corpus).
  *  2. Merge training runs on BOUNDED MODEL STATE: the [[TrainVocabCap]]
  *     most frequent (word, freq) rows — a `TakeOrderedAndProject`, the
  *     same structurally-bounded collect class as the k-means / PQ
  *     training samples — iterated at driver memory speed. Production
  *     tokenizers train ~30k–100k merges; a round-per-Spark-job shape
  *     pays 30k driver-synchronous job launches plus a fresh codegen of
  *     an ever-deeper merge fold each round (measured here: 16 rounds
  *     cost 61 s at sf0.1, ~0.2 s of which was counting), so the
  *     distributed-iteration form is the anti-pattern, not the scale
  *     path. Training on a bounded high-frequency subset is the
  *     published practice (SentencePiece caps its training corpus;
  *     Sennrich's reference trains on a word-frequency dictionary).
  *     Merge statistics lose only the sub-cap frequency tail, which by
  *     construction cannot win a weighted-count argmax against the head.
  *  3. CORPUS application stays fully distributed and vocab-shaped: the
  *     trained encoder is a Catalyst fold applied ONCE to the
  *     distinct-word frame; documents then equi-join word → subwords.
  *
  * Merge application is the standard greedy left-to-right non-overlapping
  * replace, expressed as a catalyst `aggregate` fold over the symbol array
  * (no UDF). The full merge list is ONE array-of-struct literal folded by
  * a nested lambda — constant expression depth regardless of merge count
  * (the per-merge `foldLeft` form nested one `aggregate` PER MERGE and
  * its codegen dominated the wall clock, the same unbounded-plan failure
  * the PQ encoder hit with unrolled per-centroid columns).
  *
  * The trained merge list is memoized per (session, dir, nMerges)
  * ([[graft.Memo]]) so the vocab and token-count queries share one
  * training pass.
  *
  * The three families (BPE, unigram LM, WordPiece) share each rule once:
  *  - [[topWords]]: the capped (freq DESC, word) training dictionary and
  *    its loud cap guard; [[topWordsSql]] is the oracle's copy.
  *  - [[mergeTrain]]: the pair-merge loop of BPE and WordPiece, which
  *    differ only in the pair score and the fused spelling;
  *    [[mergeRoundSql]] is its unrolled oracle round.
  *  - [[viterbi]]: the unigram DP, with or without the full-span piece;
  *    [[segmentCounts]] is the E-step every EM and pruning round runs.
  *  - [[usage]] and [[perDoc]]: the two application layouts, a piece's
  *    freq-weighted usage over the distinct-word frame and the
  *    per-document join of word → segmentation. Both apply the trained
  *    encoder once per DISTINCT word, never per corpus occurrence.
  *
  * Verification: `q_bpe_pairs` (iteration-0 weighted pair counts) is
  * cell-exact against DuckDB; the trainer is validated in TokenizeSpec
  * against a from-scratch sequential BPE implementation (exact merge-list
  * equality), the same oracle split as connected components (SQL can't
  * express a data-dependent loop).
  */
object Tokenize {

  /** Merge rounds for the declared vocab query. */
  final val NMerges = 16

  /** Pair-count rows surfaced by the oracle-checked query. */
  final val TopPairs = 32

  /** Most-frequent words whose counts drive merge training (bounded
    * model state; ~a few MB on the driver at the cap).
    */
  final val TrainVocabCap = 1 << 18

  /** (word, freq) — the single corpus-wide shuffle. NOT spread (round 15,
    * measured): the tokenizer trainers collect this frame driver-side and
    * re-derive it per query; adding the narrow-scan repartition cost the
    * vocab family +0.2–0.7 s per query in-bench with no offsetting win
    * (the explode+count is cheap relative to the added exchange here —
    * the opposite trade of the tfidf/cluster/codec heads).
    */
  def wordFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Weighted adjacent-pair counts over a (freq, syms) vocab frame.
    * Single-symbol words contribute nothing (filtered before the
    * transform: `sequence(1, 0)` would run DOWNWARD in Spark).
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
        "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("n"))

  /** Greedy left-to-right application of one merge (l, r) → l+r to a
    * symbol array, as a fold: append each symbol unless it completes the
    * pair with the accumulator's tail, in which case the tail is replaced
    * by the merged symbol. `try_element_at` (not `element_at`) keeps the
    * empty-accumulator probe null-safe under ANSI mode. Matches the
    * non-overlapping replace of reference BPE implementations ("aaa" with
    * merge (a,a) → [aa, a]).
    */
  def applyMerge(syms: Column, l: Column, r: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === l && x === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
        .otherwise(concat(acc, array(x))))

  /** The training dictionary: the top-`cap` (word, freq) rows by
    * (freq DESC, word), one TakeOrdered Spark job. Fails LOUDLY if it fills
    * the cap (the cheapest exact sign that the corpus MAY exceed it): past
    * the cap the oracle scripts train on capped words while the engine
    * encodes the full word frame, so oracle-green would silently stop
    * meaning trajectory equality.
    */
  private[graft] def topWords(s: SparkSession, dir: String,
      cap: Int): Array[(String, Long)] = {
    val wf = wordFreq(s, dir)
      .orderBy(col("freq").desc, col("word")).limit(cap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(wf.length < cap,
      s"tokenizer training dictionary hit its cap of $cap words: the " +
      "capped-oracle contract no longer holds for this corpus; raise the " +
      "cap or drop the oracle")
    wf
  }

  /** The pair-merge trainer of BPE and WordPiece, at driver speed over a
    * (symbols, freq) dictionary. Each round counts freq-weighted symbols
    * and adjacent pairs, merges the pair with the highest
    * `score(pairCount, leftCount, rightCount)` (ties to the smaller
    * (l, r)), and re-segments every word with `fuse(l, r)` in place of
    * each greedy non-overlapping (l, r) match. Stops after `rounds`
    * merges or when no word has two symbols left; returns the merges in
    * order.
    */
  private def mergeTrain(dict: Array[(Array[String], Long)], rounds: Int,
      fuse: (String, String) => String)(
      score: (Long, Long, Long) => Double): Seq[(String, String)] = {
    var vocab = dict
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < rounds && vocab.exists(_._1.length >= 2)) {
      val sc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- syms.indices) {
        sc(syms(i)) += f
        if (i + 1 < syms.length) pc((syms(i), syms(i + 1))) += f
      }
      val (l, r) = pc.minBy { case ((l, r), c) => (-score(c, sc(l), sc(r)), l, r) }._1
      merges += ((l, r))
      val fused = fuse(l, r)
      vocab = vocab.map { case (syms, f) => (applySeq(syms, l, r, fused), f) }
    }
    merges.toSeq
  }

  /** Greedy left-to-right replace of each non-overlapping (l, r) in
    * `syms` by `merged` — [[mergeTrain]]'s re-segmentation.
    */
  private def applySeq(syms: Array[String], l: String, r: String,
      merged: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private val memo = new Memo[(String, Int), Seq[(String, String)]]

  /** Train nMerges BPE merges over the top-[[TrainVocabCap]] dictionary;
    * returns the ordered merge list. The score is the raw pair count (an
    * exact double below 2^53), ties break lexicographically —
    * deterministic across runs and engines. Memoized so every query
    * sharing (dir, nMerges) trains once.
    */
  def train(s: SparkSession, dir: String, nMerges: Int): Seq[(String, String)] =
    memo(s, (dir, nMerges)) {
      val dict = topWords(s, dir, TrainVocabCap)
        .map { case (w, f) => (w.split(""), f) }
      mergeTrain(dict, nMerges, _ + _)((c, _, _) => c.toDouble)
    }

  private def memos = Seq(memo, ugMemo, ugPrunedMemo, wpMemo)
  def clearCaches(s: SparkSession): Unit = memos.foreach(_.clear(s))
  def cacheCount(s: SparkSession): Int = memos.map(_.count(s)).sum

  /** Encode one symbol array through an ordered merge list (column form —
    * used by the vocab query and the spec's encode equivalence test).
    * The merge list enters the plan as ONE array-of-struct literal and a
    * nested-lambda fold applies each merge in order — expression depth is
    * constant in the merge count (a per-merge `foldLeft` of
    * [[applyMerge]] builds an O(nMerges)-deep aggregate tower whose
    * codegen, not the data, was the measured cost).
    */
  def encodeCol(syms: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) syms
    else aggregate(typedlit(merges), syms,
      (acc, m) => applyMerge(acc, m.getField("_1"), m.getField("_2")))

  /** One re-segmentation round of the unrolled BPE and WordPiece training
    * scripts (DuckDB temp tables, the km_/kc_ mechanism): `<t>_v<r>` is
    * the (word, freq, syms) dictionary `<t>_v<r-1>` with the round's
    * argmax pair `<t>_m<r>` (l, r) merged into `fused`, an expression
    * over `<t>_m<r>`'s columns.
    *
    * Greedy left-to-right NON-OVERLAPPING merge application — the part a
    * fold-state encoding got wrong on the first probe — is expressed
    * positionally instead of as a fold: a match at position i is
    * (syms[i], syms[i+1]) = (l, r). For l ≠ r two matches can never be
    * adjacent (it would need syms[i+1] = r = l), so greedy = take ALL
    * matches; for l = r matches form consecutive islands inside symbol
    * runs and greedy takes every OTHER match from each island's start.
    * Both cases collapse to one rule: take a match iff its offset from
    * its island's first match is even (gaps-and-islands parity, the
    * [[Spans]] machinery). A taken match emits l||r at i and suppresses
    * position i+1 (the lag(sel) skip).
    *
    * The scripts re-derive the whole trajectory, so oracle-green proves
    * training, not just application. They assume the corpus dictionary
    * fits its cap (the shipped corpora have ~31 distinct words): past it
    * the engine still encodes the FULL word frame while the script only
    * carries capped words, which is why [[topWords]] fails at the cap.
    */
  private def mergeRoundSql(t: String, r: Int, fused: String): String =
    s"""CREATE OR REPLACE TEMP TABLE ${t}_v$r AS
       |  WITH x AS (
       |    SELECT word, freq, unnest(syms) AS s,
       |           unnest(range(1, len(syms) + 1)) AS i
       |    FROM ${t}_v${r - 1}),
       |  y AS (
       |    SELECT word, freq, s, i,
       |           coalesce(s = (SELECT l FROM ${t}_m$r)
       |                    AND lead(s) OVER (PARTITION BY word ORDER BY i)
       |                        = (SELECT r FROM ${t}_m$r), FALSE) AS mt
       |    FROM x),
       |  z AS (
       |    SELECT word, freq, s, i, mt,
       |           CASE WHEN mt THEN i - row_number()
       |                OVER (PARTITION BY word, mt ORDER BY i) END AS grp
       |    FROM y),
       |  sel AS (
       |    SELECT word, freq, s, i,
       |           mt AND ((i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0) AS sel
       |    FROM z),
       |  keep AS (
       |    SELECT word, freq, i,
       |           CASE WHEN sel THEN (SELECT $fused FROM ${t}_m$r) ELSE s END AS s,
       |           coalesce(lag(sel) OVER (PARTITION BY word ORDER BY i), FALSE) AS skip
       |    FROM sel)
       |  SELECT word, freq, list(s ORDER BY i) AS syms
       |  FROM keep WHERE NOT skip GROUP BY word, freq;""".stripMargin

  /** The (p STRUCT(l, r), freq) adjacent pairs of dictionary `<t>_v<r>`. */
  private def pairsSql(t: String, r: Int): String =
    s"""SELECT unnest([{'l': syms[i], 'r': syms[i+1]}
       |                   for i in range(1, len(syms))]) AS p,
       |           freq
       |    FROM ${t}_v$r WHERE len(syms) >= 2""".stripMargin

  /** The oracle's [[topWords]]: the capped (word, freq) dictionary. */
  private def topWordsSql(cap: Int): String =
    s"""SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY tok ORDER BY freq DESC, word LIMIT $cap""".stripMargin

  /** Dictionary seed + all [[NMerges]] unrolled rounds: bpe_m{r} is the
    * round's argmax pair, bpe_v{r} the re-segmented dictionary.
    */
  private def bpeScriptPrefix: String = {
    val rounds = (1 to NMerges).map { r =>
      s"""CREATE OR REPLACE TEMP TABLE bpe_m$r AS
         |  SELECT p.l AS l, p.r AS r FROM (
         |    ${pairsSql("bpe", r - 1)})
         |  GROUP BY 1, 2 ORDER BY CAST(sum(freq) AS BIGINT) DESC, l, r LIMIT 1;
         |${mergeRoundSql("bpe", r, "l || r")}""".stripMargin
    }
    s"""CREATE OR REPLACE TEMP TABLE bpe_v0 AS
       |  SELECT word, freq, string_split(word, '') AS syms FROM (
       |    ${topWordsSql(TrainVocabCap)});
       |${rounds.mkString("\n")}""".stripMargin
  }

  // ---- Unigram-LM (SentencePiece-style) tokenizer --------------------------
  //
  // The OTHER tokenizer family production pipelines train (Kudo 2018,
  // "Subword Regularization"; the T5/ALBERT default): a unigram language
  // model over a piece vocabulary, trained by EM on the word-frequency
  // frame and applied by Viterbi segmentation. This implementation is the
  // deterministic hard-EM (Viterbi-EM) variant with Laplace-smoothed
  // piece probabilities, engineered for cross-engine exactness:
  //
  //  * Piece scores are integer MICRO-NATS snapped once per M-step on the
  //    vocab-sized model frame (the LM.scala convention — libm ln is
  //    snapped only on bounded model state, never per corpus row), so
  //    every Viterbi comparison is an exact int64 sum.
  //  * Viterbi is expressed POSITIONALLY: best[i] = max over piece start
  //    st ∈ [i−MaxPiece+1, i] of best[st−1] + score(word[st..i]), ties
  //    broken toward the SMALLEST st (longest final piece) — the same
  //    rule in the driver trainer, the distributed Catalyst fold, and
  //    the oracle's unrolled DP, so all three land on identical
  //    segmentations.
  //  * Same decomposition as BPE above: ONE corpus shuffle (word → freq),
  //    EM on the bounded top-[[UgSeedCap]] dictionary at driver speed,
  //    distributed application as a Catalyst fold over the DISTINCT-WORD
  //    frame (the trained score table enters the plan as a vocab-sized
  //    map literal — the k-means broadcast-centroid-literal class), and
  //    the corpus only ever joins word → pieces.
  //
  // The oracle re-derives the ENTIRE trajectory in DuckDB (seed counts →
  // scores → per-position DP tables → E-step counts → re-scored round 2 →
  // final segmentation), so oracle-green proves training, not just
  // application — the bpe_v*/bpe_m* mechanism with the DP unrolled over
  // word positions instead of merge rounds.

  /** Longest piece the seed vocabulary admits. */
  final val UgMaxPiece = 4
  /** Oracle DP unroll bound; [[unigramTrain]] fails loudly past it. */
  final val UgMaxWordLen = 16
  /** E-step rounds; the emitted segmentation is round [[UgEmRounds]]'s. */
  final val UgEmRounds = 2
  /** Seed-vocabulary cap (bounded model state; require-guarded). */
  final val UgSeedCap = 1 << 14
  /** Score of a piece outside the vocabulary (micro-nats). Any path using
    * one loses to every all-vocab path (word length × worst vocab score
    * ≈ −2·10⁸ ≫ −10¹²), and single characters are always in vocabulary,
    * so a finite path always exists.
    */
  final val UgPenalty = -1000000000000L

  /** Percent of MULTI-character pieces each pruning round removes
    * (SentencePiece's shrinking_factor analog; single characters are
    * never pruned — they guarantee every word stays segmentable).
    */
  final val UgPrunePct = 20

  /** Pruning rounds — the shrinking LOOP (SentencePiece iterates
    * prune→EM until the target vocab size; two rounds exercise the loop
    * while keeping the oracle's unrolled DP scripts tractable).
    */
  final val UgPruneRounds = 2

  /** Micro-nat snap: HALF_UP (= away from zero, matching DuckDB round()
    * and Spark round()) after the shared double chain
    * 1e6 · ln((c+1)/(T+V)).
    */
  private def ugScore(c: Long, t: Long, v: Long): Long =
    new java.math.BigDecimal(
      1000000.0 * math.log((c + 1).toDouble / (t + v).toDouble))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private def ugLaplace(counts: collection.Map[String, Long],
      vocab: Seq[String]): Map[String, Long] = {
    val t = vocab.iterator.map(counts.getOrElse(_, 0L)).sum
    vocab.iterator.map(p =>
      p -> ugScore(counts.getOrElse(p, 0L), t, vocab.length)).toMap
  }

  /** Driver-side Viterbi segmentation of `w` under `sc`, the exact integer
    * DP of every unigram trainer step: best (score, pieces) per prefix,
    * ties to the smallest piece start. With `split` the single full-span
    * piece is excluded, so the result is the best segmentation into AT
    * LEAST TWO pieces (the pruning criterion's alternative cost).
    */
  private def viterbi(w: String, sc: Map[String, Long],
      split: Boolean): (Long, Vector[String]) = {
    val best = Array.fill(w.length + 1)((Long.MinValue / 4, Vector.empty[String]))
    best(0) = (0L, Vector.empty)
    for (i <- 1 to w.length; st <- math.max(1, i - UgMaxPiece + 1) to i
         if !(split && st == 1 && i == w.length)) {
      val piece = w.substring(st - 1, i)
      val cand  = best(st - 1)._1 + sc.getOrElse(piece, UgPenalty)
      if (cand > best(i)._1) best(i) = (cand, best(st - 1)._2 :+ piece)
    }
    best(w.length)
  }

  /** Freq-weighted piece counts of the dictionary's segmentation under
    * `sc`: the E-step of every EM and pruning round.
    */
  private def segmentCounts(wf: Array[(String, Long)],
      sc: Map[String, Long]): collection.Map[String, Long] = {
    val cnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    wf.foreach { case (w, f) => viterbi(w, sc, split = false)._2.foreach(cnt(_) += f) }
    cnt
  }

  private val ugMemo = new Memo[String, Map[String, Long]]

  /** The top-[[UgSeedCap]] training dictionary ([[topWords]]), shared by
    * the EM trainer, the pruning round and WordPiece. Also fails loudly
    * if any word outruns the oracle's [[UgMaxWordLen]]-position unroll.
    */
  private def ugDict(s: SparkSession, dir: String): Array[(String, Long)] = {
    val wf = topWords(s, dir, UgSeedCap)
    require(wf.forall(_._1.length <= UgMaxWordLen),
      s"a word exceeds UgMaxWordLen=$UgMaxWordLen: the oracle's DP " +
      "unroll cannot segment it; raise the bound")
    // empty tokens (doubled spaces upstream) would run the Catalyst
    // fold over Spark's DESCENDING sequence(1, 0) while the oracle's
    // inner join silently drops length-0 words — fail loudly instead
    // of diverging cross-engine (the capped-oracle contract)
    require(wf.forall(_._1.nonEmpty),
      "the word-frequency frame contains an empty word: the unigram " +
      "DP and its oracle disagree on length-0 input; fix tokenization")
    wf
  }

  /** Train the unigram LM; returns the final micro-nat score table (the
    * scores the round-[[UgEmRounds]] segmentation runs under). Memoized
    * per (session, dir) like [[train]].
    */
  def unigramTrain(s: SparkSession, dir: String): Map[String, Long] =
    ugMemo(s, dir) {
      val wf = ugDict(s, dir)
      val seed = scala.collection.mutable.Map
        .empty[String, Long].withDefaultValue(0L)
      wf.foreach { case (w, f) =>
        var st = 0
        while (st < w.length) {
          var l = 1
          while (l <= UgMaxPiece && st + l <= w.length) {
            seed(w.substring(st, st + l)) += f; l += 1
          }
          st += 1
        }
      }
      require(seed.size < UgSeedCap,
        s"seed vocabulary hit UgSeedCap=$UgSeedCap")
      val vocab = seed.keys.toSeq.sorted
      (1 until UgEmRounds).foldLeft(ugLaplace(seed, vocab)) { (sc, _) =>
        ugLaplace(segmentCounts(wf, sc), vocab)
      }
    }

  // ---- vocabulary pruning (SentencePiece's remove-lowest-likelihood) ----

  private val ugPrunedMemo = new Memo[String, Map[String, Long]]

  /** The PRUNED unigram score table — SentencePiece's
    * remove-lowest-likelihood SHRINKING LOOP (Kudo 2018 §3.2) made
    * deterministic, [[UgPruneRounds]] rounds of:
    *
    *  1. segment the dictionary under the scores in force and take the
    *     freq-weighted piece counts (the E-step of this round);
    *  2. re-fit Laplace scores over the CURRENT vocabulary from those
    *     counts;
    *  3. charge each surviving multi-character piece its likelihood
    *     LOSS if removed, loss(p) = c(p) · (sc(p) − alt(p)) with
    *     alt(p) the [[viterbi]] score of p split into ≥ 2 still-alive
    *     pieces — the exact cost of re-segmenting p's occurrences (the
    *     paper's approximation: other pieces' scores held fixed; always
    *     finite, since every strict substring of a vocab piece is a seed).
    *     All integer micro-nats × integer counts;
    *  4. drop the bottom [[UgPrunePct]]% of multi-char pieces — keep
    *     the top by (loss DESC, piece ASC), the cross-engine tie rule;
    *     single characters are never pruned (coverage guarantee);
    *  5. re-fit Laplace scores over the pruned vocabulary from the same
    *     counts — the scores the NEXT round (or the final segmentation)
    *     runs under.
    *
    * The vocabulary shrinks geometrically across rounds (multi-char
    * count → ⌈0.8·n⌉ each round). Every step is driver-side bounded
    * model state (the vocab-sized frames [[unigramTrain]] already
    * holds); the oracle re-derives the WHOLE loop in SQL — per-round
    * alt-cost DP over the live vocab, loss ranking, keep cut, re-score,
    * full re-segmentation DP — so oracle-green proves the multi-round
    * pruning trajectory, not just the final surviving vocab.
    */
  def unigramTrainPruned(s: SparkSession, dir: String): Map[String, Long] =
    ugPrunedMemo(s, dir) {
      val wf = ugDict(s, dir)
      var sc = unigramTrain(s, dir) // scores in force for the next E-step
      var vocab = sc.keys.toSeq.sorted // the LIVE vocabulary
      for (_ <- 1 to UgPruneRounds) {
        val cnt = segmentCounts(wf, sc)
        val scFull = ugLaplace(cnt, vocab)
        val multi = vocab.filter(_.length >= 2)
        val loss = multi.map(p => p -> cnt.getOrElse(p, 0L) *
          (scFull(p) - viterbi(p, scFull, split = true)._1)).toMap
        val keepN = multi.length - multi.length * UgPrunePct / 100
        val kept = multi.sortBy(p => (-loss(p), p)).take(keepN)
        vocab = (vocab.filter(_.length == 1) ++ kept).sorted
        sc = ugLaplace(cnt, vocab)
      }
      sc
    }

  /** Viterbi segmentation of a word column under a trained score table —
    * the distributed application face. One Catalyst fold over positions
    * (array accumulator: best (score, pieces) per prefix), an inner fold
    * over the ≤ [[UgMaxPiece]] candidate piece starts; strictly-greater
    * replacement over ASCENDING starts implements the shared tie rule.
    * The score table is a vocab-sized map literal (bounded model state in
    * the plan, the k-means centroid-literal class); no UDF, no shuffle.
    */
  def unigramPiecesCol(word: Column, scores: Map[String, Long]): Column = {
    val sm = typedlit(scores)
    val dp = aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("sc"),
        array().cast("array<string>").as("ps"))),
      (acc, i) => concat(acc, array(aggregate(
        sequence(greatest(lit(1), i - lit(UgMaxPiece) + 1), i),
        struct(lit(Long.MinValue / 2).as("sc"),
          array().cast("array<string>").as("ps")),
        (b, st) => {
          val piece = word.substr(st, i - st + 1)
          val candSc = element_at(acc, st).getField("sc") +
            coalesce(element_at(sm, piece), lit(UgPenalty))
          when(candSc > b.getField("sc"),
            struct(candSc.as("sc"),
              concat(element_at(acc, st).getField("ps"), array(piece))
                .as("ps")))
            .otherwise(b)
        }))))
    element_at(dp, length(word) + 1).getField("ps")
  }

  // ---- unigram oracle script (the bpe_v* mechanism, DP over positions) ----

  private def ugScSql(name: String, cnts: String,
      vocab: String = "ug_vocab"): String =
    s"""CREATE OR REPLACE TEMP TABLE $name AS
       |  WITH t AS (SELECT CAST(sum(coalesce(c.c, 0)) AS BIGINT) AS tt,
       |                    CAST(count(*) AS BIGINT) AS v
       |             FROM $vocab vv LEFT JOIN $cnts c USING (piece))
       |  SELECT vv.piece,
       |         CAST(round(1000000 * ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
       |              / CAST(t.tt + t.v AS DOUBLE))) AS BIGINT) AS sc
       |  FROM $vocab vv LEFT JOIN $cnts c USING (piece), t;""".stripMargin

  private def ugDpRoundSql(r: Int, scoresTable: String): String = {
    val steps = (1 to UgMaxWordLen).map { i =>
      val branches = (math.max(0, i - UgMaxPiece) until i).map { j =>
        s"SELECT d.word AS word, d.sc + coalesce(s.sc, $UgPenalty) AS sc, " +
        s"list_append(d.ps, substr(d.word, ${j + 1}, ${i - j})) AS ps, $j AS j " +
        s"FROM ug_dp${r}_$j d LEFT JOIN $scoresTable s " +
        s"ON s.piece = substr(d.word, ${j + 1}, ${i - j}) " +
        s"WHERE length(d.word) >= $i"
      }.mkString("\n      UNION ALL\n      ")
      s"""CREATE OR REPLACE TEMP TABLE ug_dp${r}_$i AS
         |  SELECT word, sc, ps FROM (
         |    SELECT word, sc, ps, row_number() OVER (
         |      PARTITION BY word ORDER BY sc DESC, j ASC) AS rn
         |    FROM (
         |      $branches
         |    )) WHERE rn = 1;""".stripMargin
    }
    val finalUnion = (1 to UgMaxWordLen)
      .map(i => s"SELECT word, ps FROM ug_dp${r}_$i WHERE length(word) = $i")
      .mkString("\n    UNION ALL\n    ")
    s"""CREATE OR REPLACE TEMP TABLE ug_dp${r}_0 AS
       |  SELECT word, CAST(0 AS BIGINT) AS sc, CAST([] AS VARCHAR[]) AS ps
       |  FROM ug_w;
       |${steps.mkString("\n")}
       |CREATE OR REPLACE TEMP TABLE ug_seg$r AS
       |  SELECT w.word, w.freq, s.ps FROM ug_w w JOIN (
       |    $finalUnion
       |  ) s USING (word);
       |CREATE OR REPLACE TEMP TABLE ug_cnt$r AS
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT freq, unnest(ps) AS piece FROM ug_seg$r) GROUP BY piece;""".stripMargin
  }

  /** Dictionary + seed vocabulary + every EM round, unrolled. */
  private def ugScriptPrefix: String = {
    val rounds = (1 to UgEmRounds).map { r =>
      val sct = if (r == 1) "ug_sc0" else s"ug_sc${r - 1}"
      val m   = if (r < UgEmRounds) s"\n${ugScSql(s"ug_sc$r", s"ug_cnt$r")}" else ""
      s"${ugDpRoundSql(r, sct)}$m"
    }.mkString("\n")
    s"""CREATE OR REPLACE TEMP TABLE ug_w AS
       |  ${topWordsSql(UgSeedCap)};
       |CREATE OR REPLACE TEMP TABLE ug_vocab AS
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT freq, substr(word, u.st, u.ln) AS piece FROM (
       |      SELECT word, freq, unnest(list_filter(
       |        [{'st': (i // $UgMaxPiece) + 1, 'ln': (i % $UgMaxPiece) + 1}
       |         for i in range(0, length(word) * $UgMaxPiece)],
       |        x -> x.st + x.ln - 1 <= length(word))) AS u
       |      FROM ug_w))
       |  GROUP BY piece ORDER BY c DESC, piece LIMIT $UgSeedCap;
       |${ugScSql("ug_sc0", "ug_vocab")}
       |$rounds""".stripMargin
  }

  /** The shrinking loop, unrolled — [[UgPruneRounds]] rounds, each:
    * re-score over the LIVE vocab → alt-cost DP (positions
    * 1..[[UgMaxPiece]], full-span branch excluded, only live pieces
    * score) → integer loss ranking → keep cut → re-fit over survivors →
    * full re-segmentation DP (which also yields the next round's
    * counts). Appends to [[ugScriptPrefix]].
    */
  private def ugPruneScript: String =
    (1 to UgPruneRounds).map { r =>
      val cntR   = UgEmRounds + (r - 1) // this round's E-step counts
      val vocabT = if (r == 1) "ug_vocab" else s"ug_keep${r - 1}"
      val rs     = s"ug_rs$r"
      val steps = (1 to UgMaxPiece).map { i =>
        val branches = (math.max(0, i - UgMaxPiece) until i).map { j =>
          s"SELECT d.word AS word, d.sc + coalesce(s.sc, $UgPenalty) AS sc " +
          s"FROM ug_alt${r}_$j d LEFT JOIN $rs s " +
          s"ON s.piece = substr(d.word, ${j + 1}, ${i - j}) " +
          s"WHERE length(d.word) >= $i AND NOT ($j = 0 AND length(d.word) = $i)"
        }.mkString("\n      UNION ALL\n      ")
        s"""CREATE OR REPLACE TEMP TABLE ug_alt${r}_$i AS
           |  SELECT word, max(sc) AS sc FROM (
           |      $branches
           |  ) GROUP BY word;""".stripMargin
      }
      val altFinal = (2 to UgMaxPiece)
        .map(i => s"SELECT word, sc FROM ug_alt${r}_$i WHERE length(word) = $i")
        .mkString("\n    UNION ALL\n    ")
      s"""${ugScSql(rs, s"ug_cnt$cntR", vocabT)}
         |CREATE OR REPLACE TEMP TABLE ug_alt${r}_0 AS
         |  SELECT piece AS word, CAST(0 AS BIGINT) AS sc
         |  FROM $vocabT WHERE length(piece) >= 2;
         |${steps.mkString("\n")}
         |CREATE OR REPLACE TEMP TABLE ug_alt$r AS
         |  SELECT word, sc FROM (
         |    $altFinal
         |  );
         |CREATE OR REPLACE TEMP TABLE ug_loss$r AS
         |  SELECT v.piece,
         |         CAST(coalesce(c.c, 0) * (s.sc - a.sc) AS BIGINT) AS loss
         |  FROM $vocabT v
         |  JOIN $rs s ON s.piece = v.piece
         |  JOIN ug_alt$r a ON a.word = v.piece
         |  LEFT JOIN ug_cnt$cntR c ON c.piece = v.piece
         |  WHERE length(v.piece) >= 2;
         |CREATE OR REPLACE TEMP TABLE ug_keep$r AS
         |  SELECT piece FROM $vocabT WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece FROM (
         |    SELECT piece, row_number() OVER (ORDER BY loss DESC, piece) AS rn,
         |           count(*) OVER () AS nm
         |    FROM ug_loss$r)
         |  WHERE rn <= nm - (nm * $UgPrunePct) // 100;
         |${ugScSql(s"ug_scp$r", s"ug_cnt$cntR", s"ug_keep$r")}
         |${ugDpRoundSql(cntR + 1, s"ug_scp$r")}""".stripMargin
    }.mkString("\n")

  // ---- WordPiece (BERT-style) tokenizer ------------------------------------
  //
  // The THIRD tokenizer family production pipelines ship (Schuster &
  // Nakajima 2012 "Japanese and Korean voice search"; the BERT vocab of
  // Devlin et al. 2019). Training is BPE-shaped — iterative pair merges
  // over the same capped word-frequency dictionary — but each round
  // merges the pair maximizing the LIKELIHOOD score
  // count(pair) / (count(l) · count(r)) instead of the raw pair count,
  // with every non-initial symbol carrying the "##" continuation prefix.
  // Application is NOT the learned merge order (BPE's contract) but
  // greedy LONGEST-MATCH-FIRST against the final piece inventory, a
  // whole word falling to [[WpUnk]] when no piece fits at some position.
  // Scale shape is the family's: one corpus shuffle (wordFreq), training
  // on bounded driver model state, application one Catalyst fold per
  // DISTINCT word with the piece inventory a plan literal.

  /** WordPiece merge rounds for the declared queries. */
  final val WpMerges = 12

  /** The unknown-word sentinel greedy matching falls back to. */
  final val WpUnk = "[UNK]"

  /** Initial WordPiece segmentation: first character bare, the rest
    * "##"-prefixed (so a piece's prefix records word-start vs
    * continuation, the property greedy matching keys on).
    */
  private def wpInitSyms(w: String): Array[String] =
    w.substring(0, 1) +: w.substring(1).map("##" + _).toArray

  /** Strip the continuation prefix when fusing a merged symbol. */
  private def wpStrip(sym: String): String =
    if (sym.startsWith("##")) sym.substring(2) else sym

  private val wpMemo = new Memo[String, (Seq[(String, String)], Seq[String])]

  /** Train [[WpMerges]] WordPiece merges over the capped dictionary
    * ([[ugDict]] — same cap, length and empty-word guards, and therefore
    * the same capped-oracle contract as the unigram trainer). Returns
    * (merge trajectory, sorted final piece inventory = initial alphabet
    * ∪ merge products — WordPiece vocabularies only GROW; nothing is
    * removed).
    *
    * Cross-engine determinism: the score is the ONE fixed IEEE sequence
    * c.toDouble / (cl·cr).toDouble on exact int64 counts — the same two
    * correctly-rounded ops as the oracle's
    * CAST(c AS DOUBLE) / CAST(cl·cr AS DOUBLE) — so both engines rank
    * identical doubles (the Pearson rule: a fixed sequence of
    * correctly-rounded ops on identical integers needs no snapping);
    * remaining ties break (l, r)-lexicographic.
    */
  def wpTrain(s: SparkSession, dir: String): (Seq[(String, String)], Seq[String]) =
    wpMemo(s, dir) {
      val dict = ugDict(s, dir).map { case (w, f) => (wpInitSyms(w), f) }
      val fuse = (l: String, r: String) => l + wpStrip(r)
      val merges = mergeTrain(dict, WpMerges, fuse)(
        (c, cl, cr) => c.toDouble / (cl * cr).toDouble)
      val alphabet = dict.iterator.flatMap(_._1).toSet
      (merges, (alphabet ++ merges.map(fuse.tupled)).toSeq.sorted)
    }

  /** Greedy longest-match-first segmentation of a word column — the
    * distributed application face: ONE Catalyst fold over positions
    * (greedy needs exactly length(word) steps since every live step
    * advances ≥ 1 position), an inner fold over candidate lengths that
    * keeps the LARGEST member of the piece inventory (later k overwrite
    * smaller hits). The inventory is a map literal (bounded model state
    * in the plan, the centroid-literal class); no UDF, no shuffle. A
    * position with no matching piece marks the word dead → [[WpUnk]].
    */
  def wordpiecePiecesCol(word: Column, pieces: Seq[String]): Column = {
    val pm = typedlit(pieces.map(_ -> true).toMap)
    val maxLen = pieces.map(p => p.length - (if (p.startsWith("##")) 2 else 0))
      .foldLeft(1)(math.max)
    val fold = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"),
        array().cast("array<string>").as("ps"), lit(false).as("dead")),
      (acc, _) => {
        val pos  = acc.getField("pos")
        val live = !acc.getField("dead") && pos <= length(word)
        val bestLen = aggregate(
          sequence(lit(1), least(lit(maxLen), length(word) - pos + 1)),
          lit(0),
          (b, k) => {
            val cand = concat(when(pos > 1, lit("##")).otherwise(lit("")),
              word.substr(pos, k))
            when(element_at(pm, cand).isNotNull, k).otherwise(b)
          })
        val piece = concat(when(pos > 1, lit("##")).otherwise(lit("")),
          word.substr(pos, bestLen))
        when(!live, acc)
          .when(bestLen === 0,
            struct(pos.as("pos"), acc.getField("ps").as("ps"),
              lit(true).as("dead")))
          .otherwise(struct((pos + bestLen).as("pos"),
            concat(acc.getField("ps"), array(piece)).as("ps"),
            lit(false).as("dead")))
      })
    when(fold.getField("dead"), typedlit(Seq(WpUnk)))
      .otherwise(fold.getField("ps"))
  }

  // ---- WordPiece oracle script (the bpe_v* mechanism + a greedy orbit) ----

  /** One unrolled training round: symbol counts → argmax pair by the
    * IEEE double ratio (DESC, then l, r) → positional non-overlapping
    * re-segmentation (the bpe gaps-and-islands parity rule — identical
    * merge application semantics, only the fused spelling strips "##").
    */
  private def wpRoundSql(r: Int): String =
    s"""CREATE OR REPLACE TEMP TABLE wp_s$r AS
       |  SELECT s, CAST(sum(freq) AS BIGINT) AS c
       |  FROM (SELECT freq, unnest(syms) AS s FROM wp_v${r - 1}) GROUP BY s;
       |CREATE OR REPLACE TEMP TABLE wp_m$r AS
       |  SELECT p.l AS l, p.r AS r,
       |         p.l || CASE WHEN p.r LIKE '##%' THEN p.r[3:] ELSE p.r END AS merged
       |  FROM (
       |    ${pairsSql("wp", r - 1)}) x
       |  JOIN wp_s$r sl ON sl.s = x.p.l
       |  JOIN wp_s$r sr ON sr.s = x.p.r
       |  GROUP BY p.l, p.r, sl.c, sr.c
       |  ORDER BY CAST(CAST(sum(freq) AS BIGINT) AS DOUBLE)
       |           / CAST(sl.c * sr.c AS DOUBLE) DESC, p.l, p.r
       |  LIMIT 1;
       |${mergeRoundSql("wp", r, "merged")}""".stripMargin

  /** Dictionary seed (the [[ugDict]] cap and ordering), all [[WpMerges]]
    * unrolled rounds, the grown piece inventory, the per-(word, pos)
    * longest-match table, and the greedy orbit unrolled
    * [[UgMaxWordLen]] steps (every live step advances ≥ 1 position) —
    * so oracle-green proves the TRAINING TRAJECTORY and the greedy
    * application, not just a piece set.
    */
  private def wpScriptPrefix: String = {
    val orbit = (1 to UgMaxWordLen).map { j =>
      s"""CREATE OR REPLACE TEMP TABLE wp_seg$j AS
         |  SELECT s.word,
         |         CASE WHEN s.dead OR s.pos > len(s.word) OR l.l IS NULL
         |              THEN s.pos ELSE s.pos + l.l END AS pos,
         |         CASE WHEN s.dead OR s.pos > len(s.word) OR l.l IS NULL
         |              THEN s.ps
         |              ELSE list_append(s.ps,
         |                CASE WHEN s.pos > 1 THEN '##' ELSE '' END ||
         |                s.word[s.pos : s.pos + l.l - 1]) END AS ps,
         |         CASE WHEN s.dead THEN TRUE
         |              WHEN s.pos > len(s.word) THEN FALSE
         |              WHEN l.l IS NULL THEN TRUE ELSE FALSE END AS dead
         |  FROM wp_seg${j - 1} s
         |  LEFT JOIN wp_len l ON l.word = s.word AND l.pos = s.pos;""".stripMargin
    }.mkString("\n")
    s"""CREATE OR REPLACE TEMP TABLE wp_v0 AS
       |  SELECT word, freq,
       |         [CASE WHEN i = 1 THEN word[i] ELSE '##' || word[i] END
       |          for i in range(1, len(word) + 1)] AS syms
       |  FROM (
       |    ${topWordsSql(UgSeedCap)});
       |${(1 to WpMerges).map(wpRoundSql).mkString("\n")}
       |CREATE OR REPLACE TEMP TABLE wp_vocab AS
       |  SELECT DISTINCT s AS piece FROM (SELECT unnest(syms) AS s FROM wp_v0)
       |  UNION
       |  SELECT merged FROM (
       |    ${(1 to WpMerges).map(r => s"SELECT merged FROM wp_m$r")
             .mkString("\n    UNION ALL\n    ")});
       |CREATE OR REPLACE TEMP TABLE wp_len AS
       |  SELECT w.word, p.pos,
       |         max(len(v.piece)
       |             - CASE WHEN p.pos > 1 THEN 2 ELSE 0 END) AS l
       |  FROM (SELECT DISTINCT word FROM wp_v0) w,
       |       LATERAL (SELECT unnest(range(1, len(w.word) + 1)) AS pos) p
       |  JOIN wp_vocab v
       |    ON v.piece = CASE WHEN p.pos > 1 THEN '##' ELSE '' END ||
       |       w.word[p.pos : p.pos
       |            + (len(v.piece) - CASE WHEN p.pos > 1 THEN 2 ELSE 0 END) - 1]
       |   AND len(v.piece) - CASE WHEN p.pos > 1 THEN 2 ELSE 0 END >= 1
       |   AND p.pos + (len(v.piece) - CASE WHEN p.pos > 1 THEN 2 ELSE 0 END) - 1
       |       <= len(w.word)
       |  GROUP BY w.word, p.pos;
       |CREATE OR REPLACE TEMP TABLE wp_seg0 AS
       |  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS ps, FALSE AS dead
       |  FROM (SELECT DISTINCT word FROM wp_v0);
       |$orbit
       |CREATE OR REPLACE TEMP TABLE wp_seg AS
       |  SELECT word, CASE WHEN dead THEN ['$WpUnk'] ELSE ps END AS ps
       |  FROM wp_seg$UgMaxWordLen;""".stripMargin
  }

  /** (piece, n_tokens): each piece's freq-weighted usage when `pieces`,
    * a segmentation of the `word` column, is applied to a (word, freq)
    * frame.
    *
    * explode_OUTER, deliberately: plain explode lets
    * InferFiltersFromGenerate synthesize `size(ps)>0 AND isnotnull(ps)`
    * and PushDownPredicates sinks that below the word-frequency aggregate
    * — the segmentation fold then runs per corpus OCCURRENCE instead of
    * once per distinct word (measured on the BPE fold: 19.5 s vs 0.9 s at
    * sf0.1). The rule skips outer generates, and outer ≡ inner here: every
    * family segments a non-empty word into a non-empty array of non-null
    * pieces.
    */
  private def usage(words: DataFrame, pieces: Column): DataFrame =
    words.select(col("freq"), pieces.as("ps"))
      .select(explode_outer(col("ps")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("n_tokens"))

  /** Per-document aggregates `aggs` over the corpus joined word → `seg`,
    * a segmentation frame keyed by `word` over the distinct words, so the
    * corpus-sized stage is one explode and one equi-join.
    */
  private def perDoc(s: SparkSession, dir: String, seg: DataFrame)(
      aggs: Column*): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(seg, "word")
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .orderBy("doc_id")

  val queries: Seq[Q] = Seq(

    // Iteration-0 weighted pair counts — the exact aggregate every merge
    // round runs, cell-checked. pair = l || r is unambiguous at iteration
    // 0 (all symbols are single characters).
    Q("q_bpe_pairs",
      s"""WITH w AS (
         |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok),
         |s AS (SELECT freq, string_split(word, '') AS cs FROM w),
         |p AS (
         |  SELECT freq, unnest([cs[i] || cs[i+1] for i in range(1, len(cs))]) AS pair
         |  FROM s WHERE len(cs) >= 2)
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
         |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT $TopPairs""".stripMargin) {
      (s, dir) =>
        wordFreq(s, dir)
          .select(col("freq"), split(col("word"), "").as("syms"))
          .transform(pairCounts)
          .select(concat(col("l"), col("r")).as("pair"), col("n"))
          .orderBy(col("n").desc, col("pair")).limit(TopPairs)
    },

    // Trained merge table + resulting subword vocabulary. The oracle
    // re-derives the ENTIRE training trajectory as an unrolled temp-table
    // script (bpeScriptPrefix) — every merge argmax and every greedy
    // re-segmentation — so green means the distributed trainer matches
    // round for round, not just the final counts. TokenizeSpec separately
    // proves merge-list equality with a sequential reference.
    Q("q_bpe_vocab",
      s"""$bpeScriptPrefix
         |SELECT subword, CAST(sum(freq) AS BIGINT) AS n_tokens FROM (
         |  SELECT unnest(syms) AS subword, freq FROM bpe_v$NMerges)
         |GROUP BY subword ORDER BY n_tokens DESC, subword""".stripMargin) {
      (s, dir) =>
      val merges = train(s, dir, NMerges)
      usage(wordFreq(s, dir), encodeCol(split(col("word"), ""), merges))
        .select(col("piece").as("subword"), col("n_tokens"))
        .orderBy(col("n_tokens").desc, col("subword"))
    },

    // Corpus-wide tokenizer application: per-document BPE token counts
    // (perDoc: the narrow layout that tokenizes 100 TB without running
    // the merge fold per occurrence). Oracle: the same unrolled
    // trajectory; bpe_v16's segment count joins back to the corpus
    // exactly like the engine's word → n_sub join. TokenizeSpec recounts
    // documents against the sequential reference encoder.
    Q("q_bpe_token_count",
      s"""$bpeScriptPrefix
         |WITH wl AS (SELECT word, CAST(len(syms) AS INTEGER) AS n_sub
         |            FROM bpe_v$NMerges)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN wl USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val merges = train(s, dir, NMerges)
      perDoc(s, dir, wordFreq(s, dir).select(col("word"),
          size(encodeCol(split(col("word"), ""), merges)).as("n_sub")))(
        count(lit(1)).as("n_words"), sum("n_sub").as("n_bpe_tokens"))
    },

    // Unigram-LM subword vocabulary: each piece's freq-weighted usage in
    // the final Viterbi segmentation. The oracle re-derives the WHOLE
    // trajectory (seed → scores → per-position DP → E-step → re-score →
    // final segmentation), so green proves the EM training round for
    // round; TokenizeSpec separately pins the trained score table and
    // per-word segmentation against a from-scratch sequential reference.
    Q("q_unigram_vocab",
      s"""$ugScriptPrefix
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS n_tokens FROM (
         |  SELECT freq, unnest(ps) AS piece FROM ug_seg$UgEmRounds)
         |GROUP BY piece ORDER BY n_tokens DESC, piece""".stripMargin) {
      (s, dir) =>
      usage(wordFreq(s, dir), unigramPiecesCol(col("word"), unigramTrain(s, dir)))
        .orderBy(col("n_tokens").desc, col("piece"))
    },

    // Corpus-wide unigram tokenizer application: per-document Viterbi
    // token counts.
    Q("q_unigram_token_count",
      s"""$ugScriptPrefix
         |WITH wl AS (SELECT word, CAST(len(ps) AS INTEGER) AS n_sub
         |            FROM ug_seg$UgEmRounds)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sub) AS BIGINT) AS n_ug_tokens
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN wl USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sc = unigramTrain(s, dir)
      perDoc(s, dir, wordFreq(s, dir).select(col("word"),
          size(unigramPiecesCol(col("word"), sc)).as("n_sub")))(
        count(lit(1)).as("n_words"), sum("n_sub").as("n_ug_tokens"))
    },

    // PRUNED unigram vocabulary — the remove-lowest-likelihood rounds
    // that actually PICK the vocab (SentencePiece's shrinking loop,
    // [[UgPruneRounds]] rounds; [[unigramTrainPruned]] documents the
    // deterministic criterion). Output: the SURVIVING piece inventory —
    // one row per kept piece with its re-fit micro-nat score and its
    // freq-weighted usage in the final segmentation under those scores
    // (0 for kept-but-unused pieces). The row COUNT is the shrunken
    // vocabulary — multi-char pieces contract to 80% per ROUND
    // (TokenizeSpec asserts the per-round geometry and score-table
    // equality with a from-scratch sequential pruning reference). The
    // oracle unrolls the whole loop (per-round alt-cost DP, loss
    // ranking, keep cut, re-score, full re-segmentation DP), so green
    // proves the multi-round pruning DECISION PATH — which pieces died
    // in which round and what the survivors' re-fit scores are — not
    // just a surviving piece set. Scale shape: the score table is
    // bounded model state (vocab-sized, the centroid-literal class);
    // the usage branch is the one distributed stage (the
    // q_unigram_vocab fold over distinct words).
    Q("q_unigram_pruned",
      s"""$ugScriptPrefix
         |$ugPruneScript
         |SELECT k.piece AS piece, s.sc AS sc_micro,
         |       CAST(coalesce(u.n_tokens, 0) AS BIGINT) AS n_tokens
         |FROM ug_keep$UgPruneRounds k
         |JOIN ug_scp$UgPruneRounds s USING (piece)
         |LEFT JOIN (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n_tokens FROM (
         |    SELECT freq, unnest(ps) AS piece
         |    FROM ug_seg${UgEmRounds + UgPruneRounds})
         |  GROUP BY piece) u USING (piece)
         |ORDER BY piece""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sc = unigramTrainPruned(s, dir)
      val used = usage(wordFreq(s, dir), unigramPiecesCol(col("word"), sc))
      sc.toSeq.sortBy(_._1).toDF("piece", "sc_micro")
        .join(used, Seq("piece"), "left")
        .select(col("piece"), col("sc_micro"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .orderBy("piece")
    },

    // WordPiece piece inventory — the third tokenizer family's vocab
    // query: one row per trained piece (initial alphabet ∪ the WpMerges
    // likelihood-scored merge products) with its word-start flag and its
    // freq-weighted usage under GREEDY LONGEST-MATCH application to the
    // dictionary (0 for trained-but-unused pieces; see [[wpTrain]] /
    // [[wordpiecePiecesCol]]). The oracle re-derives the WHOLE training
    // trajectory (per-round symbol counts, the IEEE-double likelihood
    // argmax, positional re-segmentation) plus the greedy orbit, so
    // green proves which pairs merged in which order AND how the final
    // inventory segments every word — not just a piece set. Scale
    // shape: training is bounded driver model state over the capped
    // dictionary; the usage branch is the one distributed stage (the
    // family's fold over distinct words, inventory a map literal).
    Q("q_wordpiece_vocab",
      s"""$wpScriptPrefix
         |SELECT v.piece AS piece, v.piece NOT LIKE '##%' AS is_word_start,
         |       CAST(coalesce(u.n, 0) AS BIGINT) AS n_tokens
         |FROM wp_vocab v LEFT JOIN (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT f.freq, unnest(s.ps) AS piece
         |    FROM wp_seg s JOIN (SELECT word, freq FROM wp_v0) f USING (word))
         |  GROUP BY piece) u ON u.piece = v.piece
         |ORDER BY piece""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (_, pieces) = wpTrain(s, dir)
      val used = usage(wordFreq(s, dir).filter(length(col("word")) >= 1),
        wordpiecePiecesCol(col("word"), pieces))
      pieces.toDF("piece")
        .join(used, Seq("piece"), "left")
        .select(col("piece"),
          (!col("piece").startsWith("##")).as("is_word_start"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .orderBy("piece")
    },

    // Per-document WordPiece token count (+ UNK-word count) under the
    // trained inventory — the family's corpus-application query. A
    // document's [UNK] words count 1 token each and are surfaced
    // separately (the quality signal a tokenizer-coverage monitor
    // watches).
    Q("q_wordpiece_token_count",
      s"""$wpScriptPrefix
         |SELECT d.doc_id AS doc_id,
         |       CAST(sum(len(s.ps)) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN s.ps = ['$WpUnk'] THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_unk
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN wp_seg s USING (word)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val (_, pieces) = wpTrain(s, dir)
      perDoc(s, dir, wordFreq(s, dir).filter(length(col("word")) >= 1)
          .select(col("word"), wordpiecePiecesCol(col("word"), pieces).as("ps")))(
        sum(size(col("ps"))).as("n_tokens"),
        sum(when(col("ps") === typedlit(Seq(WpUnk)), 1L).otherwise(0L))
          .as("n_unk"))
    }
  )
}
