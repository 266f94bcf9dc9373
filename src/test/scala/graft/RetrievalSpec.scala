package graft

import org.apache.spark.sql.functions._

/** Invariant tests for the retrieval operators beyond the DuckDB oracle:
  * the BM25 top-1 score is re-derived independently from raw strings in
  * driver code (same formula, no Spark), and the posting-list build's df /
  * cf / head lengths agree with first-principles counts.
  */
class RetrievalSpec extends SparkSpec {

  import ops.Retrieval._

  test("BM25 top-1 score equals an independent driver-side recompute") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.length).sum / n
    val df = QueryTerms.map(t =>
      t -> docs.values.count(_.contains(t)).toDouble).toMap
    def score(toks: Seq[String]): Double = {
      val dl = toks.length.toDouble
      val s = QueryTerms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log(1 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
          tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
      }.sum
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val top = SparkEntry.all.find(_.name == "q_bm25_topk").get
      .build(spark, sfDir).head()
    assert(top.getDouble(1) === score(docs(top.getLong(0))))
    // and it really is the max over the whole corpus
    val best = docs.map { case (_, toks) => score(toks) }.max
    assert(top.getDouble(1) === best)
  }

  test("WAND-pruned BM25 equals the unpruned top-k and actually prunes") {
    val docs = Tables.documents(spark, sfDir)
    val (top, cand) = ops.Retrieval.bm25PrunedWithCandidates(
      ops.Retrieval.postingsFrom(docs), ops.Retrieval.docLengths(docs))
    val plain = SparkEntry.all.find(_.name == "q_bm25_topk").get
      .build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pruned = top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned === plain, "pruning changed the top-k")
    // the threshold must genuinely cut the scored set below the matched set
    val matched = ops.Retrieval.postingsFrom(docs)
      .filter(col("tok").isInCollection(QueryTerms))
      .select("doc_id").distinct().count()
    val nCand = cand.count()
    assert(nCand >= TopK && nCand < matched,
      s"expected TopK <= candidates < matched, got $nCand of $matched")
  }

  test("posting build: df/cf/head agree with first-principles counts") {
    val out = SparkEntry.all.find(_.name == "q_inverted_postings").get
      .build(spark, sfDir)
    // the head serializes as a comma-joined string (comparator-safe
    // scalar surface) — parse it back: length = min(df, PostingHead),
    // ids sorted ascending NUMERICALLY
    val head = transform(split(col("head_postings"), ","), x => x.cast("long"))
    val bad = out.filter(
      size(head) =!= least(col("df"), lit(PostingHead)) ||
      head =!= array_sort(head))
    assert(bad.count() === 0)
    // Σcf = corpus token count; Σdf = Σ per-doc distinct tokens
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    assert(out.agg(sum("cf")).head.getLong(0) === toks.count())
    assert(out.agg(sum("df")).head.getLong(0) ===
      toks.distinct().count())
  }

  test("tf-idf cosine pairs: postings join is COMPLETE vs brute-force all-pairs") {
    // rebuild the integer weight vectors driver-side from first
    // principles, score every pair exactly (BigInt — no 128-bit worries),
    // and compare the ≥ 4/5 set with the engine's postings-join output
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
    val n = docs.length
    val feats = docs.map { case (id, ts) =>
      id -> ts.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    val df = feats.values.flatMap(_.keys).groupBy(identity).view
      .mapValues(_.size).filter(_._2 <= n / 4).toMap
    val idf = df.map { case (f, d) =>
      f -> math.round(math.log(n.toDouble / d) * 1000)
    }
    val w = feats.view.mapValues(_.collect {
      case (f, tf) if idf.contains(f) => f -> tf * idf(f)
    }.toMap).toMap
    val nsq = w.view.mapValues(v => v.values.map(x => x * x).sum).toMap
    val ids = docs.map(_._1).sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      dot = w(i).keySet.intersect(w(j).keySet).toSeq
        .map(f => w(i)(f) * w(j)(f)).sum
      if dot > 0 &&
        BigInt(dot) * BigInt(dot) * 25 >= BigInt(16) * BigInt(nsq(i)) * BigInt(nsq(j))
    } yield (i, j, dot, nsq(i), nsq(j))).toSet
    val got = SparkEntry.queries("q_tfidf_cosine_pairs")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === want, "postings-join pair set diverged from brute force")
  }

  test("phrase search equals a direct sliding-window scan of the text") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val want = (for {
      p <- PhraseList
      terms = p.split(" ").toSeq
      (id, ts) <- docs
      n = ts.sliding(terms.length).count(_ == terms)
      if n > 0
    } yield (p, id, n.toLong)).toSet
    val got = SparkEntry.queries("q_phrase_search")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "positional-index phrase hits diverged from direct scan")
    assert(got.nonEmpty, "no phrase matched — probe phrases went stale")
  }
}
