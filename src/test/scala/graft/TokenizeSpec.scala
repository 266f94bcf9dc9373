package graft

import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Validates the distributed BPE trainer against a from-scratch sequential
  * reference implementation (the oracle split used for data-dependent
  * loops, like connected components): exact merge-list equality, encode
  * equivalence on every vocab word, and character-mass conservation of the
  * resulting subword vocabulary.
  */
class TokenizeSpec extends SparkSpec {

  import ops.Tokenize._

  /** Reference sequential BPE (Sennrich et al. 2016): count weighted
    * adjacent pairs, merge the (count desc, pair asc) argmax greedily
    * left-to-right, repeat.
    */
  private def seqApply(syms: Vector[String], m: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += (m._1 + m._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def seqBpe(freqs: Map[String, Long], n: Int): Seq[(String, String)] = {
    var vocab = freqs.map { case (w, f) => w.split("").toVector -> f }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    while (merges.length < n && !stop) {
      val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) stop = true
      else {
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        vocab = vocab.map { case (syms, f) => seqApply(syms, best) -> f }
      }
    }
    merges.toSeq
  }

  private lazy val freqs: Map[String, Long] =
    wordFreq(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("distributed trainer reproduces the sequential reference merge list") {
    assert(train(spark, sfDir, NMerges) === seqBpe(freqs, NMerges))
  }

  test("column encode equals sequential encode on every vocab word") {
    val merges = seqBpe(freqs, NMerges)
    val got = wordFreq(spark, sfDir)
      .select(col("word"), encodeCol(split(col("word"), ""), merges).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    freqs.keys.foreach { w =>
      val want = merges.foldLeft(w.split("").toVector)(seqApply)
      assert(got(w) === want, s"encode mismatch for '$w'")
    }
  }

  test("corpus token counts bounded by words/chars and equal a sequential recount") {
    val out = SparkEntry.all.find(_.name == "q_bpe_token_count").get
      .build(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n_words_doc"),
        length(regexp_replace(col("text"), " ", "")).as("n_chars"))
    val j = out.join(docs, "doc_id")
    assert(j.filter(col("n_bpe_tokens") < col("n_words") ||
      col("n_bpe_tokens") > col("n_chars")).count() === 0)
    assert(j.filter(col("n_words") =!= col("n_words_doc")).count() === 0)
    // sequential recount on a handful of documents
    val merges = seqBpe(freqs, NMerges)
    val sample = j.select(col("doc_id"), col("text"), col("n_bpe_tokens"))
      .orderBy("doc_id").limit(5).collect()
    sample.foreach { r =>
      val want = r.getString(1).split(" ").map(w =>
        merges.foldLeft(w.split("").toVector)(seqApply).length.toLong).sum
      assert(r.getLong(2) === want, s"doc ${r.getLong(0)} token count")
    }
  }

  test("subword vocabulary conserves character mass") {
    val out = SparkEntry.all.find(_.name == "q_bpe_vocab").get
      .build(spark, sfDir)
    val subwordChars = out
      .agg(sum(expr("n_tokens * length(subword)"))).head.getLong(0)
    val corpusChars = freqs.map { case (w, f) => w.length * f }.sum
    assert(subwordChars === corpusChars)
  }

  test("training dictionary fails loudly at its cap and is freq-ordered below it") {
    // every capped-oracle contract rests on this guard: a dictionary that
    // fills its cap may have dropped words the engine still encodes
    assert(freqs.size > 3)
    Seq(3, freqs.size).foreach { cap =>
      intercept[IllegalArgumentException](topWords(spark, sfDir, cap))
    }
    val all = topWords(spark, sfDir, freqs.size + 1)
    assert(all.toSeq === freqs.toSeq.sortBy { case (w, f) => (-f, w) })
  }

  // ---- unigram-LM: from-scratch sequential reference ----------------------

  private def refScore(c: Long, t: Long, v: Long): Long =
    new java.math.BigDecimal(
      1000000.0 * math.log((c + 1).toDouble / (t + v).toDouble))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private def refViterbi(w: String, sc: Map[String, Long]): Vector[String] = {
    // deliberately structured differently from the engine's loop (fold
    // over prefixes) — same contract: max score, ties to the longest
    // final piece
    (1 to w.length).foldLeft(Vector((0L, Vector.empty[String]))) { (best, i) =>
      val cands = for (st <- math.max(1, i - UgMaxPiece + 1) to i) yield {
        val p = w.substring(st - 1, i)
        (best(st - 1)._1 + sc.getOrElse(p, UgPenalty),
          best(st - 1)._2 :+ p, st)
      }
      val b = cands.minBy { case (s, _, st) => (-s, st) }
      best :+ ((b._1, b._2))
    }.last._2
  }

  private def refTrain(freqs: Map[String, Long]): Map[String, Long] = {
    val seed = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, f) <- freqs; st <- 0 until w.length;
         l <- 1 to math.min(UgMaxPiece, w.length - st))
      seed(w.substring(st, st + l)) += f
    val vocab = seed.keys.toVector.sorted
    def laplace(c: collection.Map[String, Long]): Map[String, Long] = {
      val t = vocab.map(c.getOrElse(_, 0L)).sum
      vocab.map(p => p -> refScore(c.getOrElse(p, 0L), t, vocab.length)).toMap
    }
    var sc = laplace(seed)
    (1 until UgEmRounds).foreach { _ =>
      val cnt = mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, f) <- freqs; p <- refViterbi(w, sc)) cnt(p) += f
      sc = laplace(cnt)
    }
    sc
  }

  test("unigram trainer reproduces the sequential reference score table") {
    assert(unigramTrain(spark, sfDir) === refTrain(freqs))
  }

  test("distributed unigram Viterbi equals the sequential segmentation on every word") {
    val sc = refTrain(freqs)
    val got = wordFreq(spark, sfDir)
      .select(col("word"), unigramPiecesCol(col("word"), sc).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    freqs.keys.foreach { w =>
      val want = refViterbi(w, sc)
      assert(got(w) === want, s"segmentation mismatch for '$w'")
      assert(want.mkString("") === w, s"segmentation must tile '$w'")
      assert(want.forall(p => p.nonEmpty && p.length <= UgMaxPiece))
    }
  }

  test("generative property: Catalyst Viterbi equals the reference on random words") {
    import spark.implicits._
    // random words OVER AND BEYOND the fixture: unknown characters (the
    // UgPenalty path), lengths past the fixture max (up to 24 — the
    // distributed fold has no UgMaxWordLen bound, only the oracle's
    // unroll does), and repeated-run tie pressure. Deterministic LCG.
    val sc = refTrain(freqs)
    var seed = 987654321L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val alphabet = "abcdehjklnorstwxyz#"  // mix of vocab and alien chars
    val words = (1 to 120).map { _ =>
      (1 to (1 + nextInt(24))).map(_ => alphabet(nextInt(alphabet.length))).mkString
    }.distinct
    val got = words.toDF("word")
      .select(col("word"), unigramPiecesCol(col("word"), sc).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    words.foreach { w =>
      val want = refViterbi(w, sc)
      assert(got(w) === want, s"mismatch on random word '$w'")
      assert(want.mkString("") === w && want.forall(_.length <= UgMaxPiece))
    }
  }

  // ---- unigram pruning: from-scratch sequential reference -----------------

  /** Reference pruning loop, derived differently from the engine: the
    * alternative cost of a piece is refViterbi over the piece with the
    * piece DELETED from the score map (banning it at every position —
    * only the full span can match, so this equals the engine's
    * exclude-the-full-span DP), then the same loss ranking / keep cut /
    * Laplace re-fit, iterated [[UgPruneRounds]] times with the next
    * round's counts taken from segmentation under the pruned scores.
    */
  private def refTrainPruned(freqs: Map[String, Long]): Map[String, Long] = {
    def laplaceOver(c: collection.Map[String, Long], vs: Seq[String]) = {
      val t = vs.map(c.getOrElse(_, 0L)).sum
      vs.map(p => p -> refScore(c.getOrElse(p, 0L), t, vs.length)).toMap
    }
    var sc = refTrain(freqs)
    var vocab = sc.keys.toVector.sorted
    for (_ <- 1 to UgPruneRounds) {
      val cnt = mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, f) <- freqs; p <- refViterbi(w, sc)) cnt(p) += f
      val scFull = laplaceOver(cnt, vocab)
      def alt(p: String): Long = {
        val banned = scFull - p
        refViterbi(p, banned).map(q => banned.getOrElse(q, UgPenalty)).sum
      }
      val multi = vocab.filter(_.length >= 2)
      val loss = multi.map(p => p -> cnt(p) * (scFull(p) - alt(p))).toMap
      val keepN = multi.length - multi.length * UgPrunePct / 100
      val kept = multi.sortBy(p => (-loss(p), p)).take(keepN)
      vocab = (vocab.filter(_.length == 1) ++ kept).sorted.toVector
      sc = laplaceOver(cnt, vocab)
    }
    sc
  }

  test("pruned unigram trainer matches the sequential pruning reference and SHRINKS per round") {
    val pruned = unigramTrainPruned(spark, sfDir)
    assert(pruned === refTrainPruned(freqs))
    val full = unigramTrain(spark, sfDir)
    assert(pruned.size < full.size,
      s"pruning must shrink the vocabulary (${pruned.size} vs ${full.size})")
    // coverage guarantee: every single-character piece survives all rounds
    assert(full.keys.filter(_.length == 1).forall(pruned.contains))
    // the cut is exactly UgPrunePct% of the multi-char pieces PER ROUND
    // (the shrinking-loop geometry: n -> n - n/5, iterated)
    var expectMulti = full.keys.count(_.length >= 2)
    (1 to UgPruneRounds).foreach { _ =>
      expectMulti = expectMulti - expectMulti * UgPrunePct / 100
    }
    assert(pruned.keys.count(_.length >= 2) === expectMulti)
  }

  test("pruned segmentation still tiles every word (coverage under pruning)") {
    val sc = unigramTrainPruned(spark, sfDir)
    val got = wordFreq(spark, sfDir)
      .select(col("word"), unigramPiecesCol(col("word"), sc).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    freqs.keys.foreach { w =>
      assert(got(w).mkString("") === w, s"pruned segmentation must tile '$w'")
      assert(got(w).forall(sc.contains),
        s"pruned segmentation of '$w' uses a pruned piece")
    }
  }

  test("unigram vocabulary conserves character mass") {
    val out = SparkEntry.all.find(_.name == "q_unigram_vocab").get
      .build(spark, sfDir)
    val pieceChars = out
      .agg(sum(expr("n_tokens * length(piece)"))).head.getLong(0)
    val corpusChars = freqs.map { case (w, f) => w.length * f }.sum
    assert(pieceChars === corpusChars)
  }

  // ---- WordPiece: from-scratch sequential reference ------------------------

  /** Reference WordPiece trainer, derived differently from the engine:
    * instead of mutating a running segmentation, each round RE-SEGMENTS
    * the whole dictionary by replaying the merge list so far from the
    * initial ##-seeded symbols, then recounts. Scores use the same fixed
    * IEEE sequence c.toDouble / (cl·cr).toDouble.
    */
  private def refWpTrain(freqs: Map[String, Long])
      : (Seq[(String, String)], Set[String]) = {
    def init(w: String): Vector[String] =
      w.substring(0, 1) +: w.substring(1).map("##" + _).toVector
    def strip(s: String) = if (s.startsWith("##")) s.substring(2) else s
    def replay(w: String, ms: Seq[(String, String)]): Vector[String] =
      ms.foldLeft(init(w)) { case (syms, (l, r)) =>
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + strip(r)); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < WpMerges && !done) {
      val sc = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val pc = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((w, f) <- freqs) {
        val syms = replay(w, merges.toSeq)
        syms.foreach(s => sc(s) += f)
        syms.zip(syms.tail).foreach(p => pc(p) += f)
      }
      if (pc.isEmpty) done = true
      else merges += pc.toSeq.minBy { case ((l, r), c) =>
        (-(c.toDouble / (sc(l) * sc(r)).toDouble), l, r) }._1
    }
    val alphabet = freqs.keys.flatMap(init).toSet
    (merges.toSeq, alphabet ++ merges.map { case (l, r) => l + strip(r) })
  }

  test("wordpiece trainer matches the replay-derived sequential reference") {
    val (merges, pieces) = wpTrain(spark, sfDir)
    val (refM, refV) = refWpTrain(freqs)
    assert(merges === refM)
    assert(pieces === refV.toSeq.sorted)
    // the vocabulary GROWS: alphabet plus one product per merge (set
    // semantics — duplicate spellings would only shrink it)
    assert(pieces.size <= freqs.keys.flatMap(w =>
      w.substring(0, 1) +: w.substring(1).map("##" + _).toVector).toSet.size
      + WpMerges)
  }

  test("wordpiece greedy column fold equals the sequential matcher; unseen chars fall to [UNK]") {
    val (_, pieces) = wpTrain(spark, sfDir)
    val pset = pieces.toSet
    val unseen = "zürich" // 'ü' is outside the fixture alphabet
    val words = freqs.keys.toSeq.sorted :+ unseen
    import spark.implicits._
    val got = words.toDF("word")
      .select(col("word"), wordpiecePiecesCol(col("word"), pieces).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    words.foreach { w =>
      assert(got(w) === TokenizeReference.wpGreedySeq(w, pset),
        s"fold != sequential on '$w'")
    }
    assert(got(unseen) === Seq(WpUnk))
    // spell conservation: non-UNK pieces re-spell the word
    freqs.keys.foreach { w =>
      assert(got(w).map(p =>
        if (p.startsWith("##")) p.substring(2) else p).mkString === w)
    }
  }
}
