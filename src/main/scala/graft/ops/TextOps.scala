package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.CountMin
import graft.functions.exprs.poly_hash

/** Text-analysis operators for a training-data pipeline (north star):
  * word counts, per-language stats, exact dedup, token counting, quality
  * scoring, heuristic language-ID, sessionization, tumbling windows.
  * All narrow per-document transforms (no shuffle except the final
  * aggregations) — at 100 TB these scale linearly with input splits.
  */
object TextOps {

  import Relational.cents

  /** Rank cap for the Zipf fit (q_zipf_slope) — also the int64 magnitude
    * budget for the micro-snapped regression sums.
    */
  final val ZipfTopR = 256

  private val EnStops = Seq("the", "a", "of", "and", "to", "in", "is")
  private val EsStops = Seq("el", "la", "de", "y", "que", "los")
  private val DeStops = Seq("der", "die", "das", "und", "ist", "von")

  private def stopsLit(ws: Seq[String]): Column = array(ws.map(lit): _*)
  private def stopsSql(ws: Seq[String]): String = ws.mkString("['", "', '", "']")

  // PII patterns, restricted to the RE2 ∩ java.util.regex common subset
  // (no backrefs, no lookaround) so DuckDB and Spark compile identically.
  private[ops] val PiiEmail = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private[ops] val PiiPhone = "555-[0-9]{4}"

  /** Conjunctive C4/Gopher keep gate over a text column — the single
    * source of truth shared by q_quality_gates and the streaming curation
    * filter (Streams.curateDocs). Narrow per-row arithmetic: stateless on
    * a stream, scan-parallel in batch.
    */
  private[graft] def qualityKeep(text: Column): Column = {
    val toks     = split(text, " ")
    val nW       = size(toks)
    val meanWlen = length(regexp_replace(text, " ", "")).cast("double") /
      nW.cast("double")
    val dr = size(array_distinct(toks)).cast("double") / nW.cast("double")
    nW.between(20, 100000) && meanWlen.between(3, 10) &&
      hits(toks, EnStops) >= 2 && dr >= 0.1
  }

  /** The [[qualityKeep]] conjunction as DuckDB SQL over a column named
    * `text` — shared by the q_quality_gates oracle shape and the composed
    * pipeline oracle (Pipeline).
    */
  private[ops] def qualityKeepSql: String =
    s"""((len(string_split(text, ' ')) BETWEEN 20 AND 100000)
       |    AND ((CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3 AND 10)
       |    AND (${hitsSql(EnStops)} >= 2)
       |    AND ((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 0.1))""".stripMargin

  /** PII redaction of a text column (emails + phone tokens), shared with
    * the streaming curation filter.
    */
  private[graft] def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>")

  /** Occurrences of `stops` words among whitespace tokens. */
  private def hits(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => array_contains(stopsLit(stops), t)))

  /** English stopword occurrence count (shared with the corpus pipeline). */
  def enStopHits(toks: Column): Column = hits(toks, EnStops)
  /** Its DuckDB twin over a column named `text` (corpus-pipeline oracle). */
  private[ops] def enHitsSql: String = hitsSql(EnStops)
  private def hitsSql(stops: Seq[String]): String =
    s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains(${stopsSql(stops)}, t))) AS INTEGER)"

  /** Core of q_decontaminate over an explicit documents frame (needs
    * doc_id + text). Join BEFORE dedup: train grams meet the eval-gram set
    * directly, then countDistinct dedups only the survivors. No broadcast
    * hint on `te`: under the declared 90/10 split it is corpus-proportional,
    * so pinning a broadcast would OOM at 100 TB. Because `te` is distinct-ed
    * in its own stage, AQE sees its true size at runtime and converts the
    * join to broadcast while the eval set is genuinely small (the common
    * production case). Honest cost note: that conversion happens AFTER the
    * map stages run, so the train-gram side still pays its shuffle WRITE
    * either way — AQE's local shuffle reader only skips the exchange/
    * shuffle-read. The trade vs a pinned hint is bounded memory, not zero
    * I/O; when `te` measures large the plan degrades to a hash join, never
    * a driver OOM.
    */
  private[graft] def decontaminateFrom(docs: DataFrame): DataFrame = {
    // canonicalize before gram matching: contamination that crosses the
    // split with different accent encoding / case / whitespace is still
    // contamination (same contract as the Dedup fingerprint planes)
    val t = split(graft.functions.TextNormExprs.normalize_text(col("text")), " ")
    val g = docs.select(col("doc_id"), Sampling.bucket100(col("doc_id")).as("b"), t.as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("b"),
        explode(transform(sequence(lit(1), size(col("t")) - 7),
          i => concat_ws(" ", slice(col("t"), i, lit(8))))).as("gram"))
    val tr = g.filter(col("b") < 90).select("doc_id", "gram")
    val te = g.filter(col("b") >= 90).select("gram").distinct()
    tr.join(te, "gram")
      .groupBy("doc_id").agg(countDistinct("gram").as("n_shared"))
  }

  /** Oracle for q_cms_counts (the same cell map, [[Sketches.cmsBucketSql]]). */
  private def cmsCountsSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT tok, ${Dedup.hashSql("tok")} AS h FROM toks),
       |cells AS (
       |  SELECT j, ${Sketches.cmsBucketSql("h", "j")} AS b, count(*) AS cnt
       |  FROM h CROSS JOIN range(0, ${CountMin.D}) t(j) GROUP BY 1, 2),
       |probes AS (
       |  SELECT tok, h, count(*) AS n_exact FROM h
       |  GROUP BY tok, h HAVING count(*) >= 50),
       |est AS (
       |  SELECT p.tok, p.n_exact, min(c.cnt) AS n_cms
       |  FROM probes p CROSS JOIN range(0, ${CountMin.D}) t(j)
       |  JOIN cells c ON c.j = t.j AND c.b = ${Sketches.cmsBucketSql("p.h", "t.j")}
       |  GROUP BY p.tok, p.n_exact)
       |SELECT tok, n_exact, n_cms, n_cms - n_exact AS overcount
       |FROM est ORDER BY tok""".stripMargin

  /** Gaps-and-islands sessionization of events (30-minute gap):
    * (user_id, us, sess), sess counting session starts in (us, event_id)
    * order.
    */
  private def sessions(events: DataFrame): DataFrame = {
    val us   = unix_micros(col("ts").cast("timestamp"))
    val w    = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
    val gap  = us - lag(us, 1).over(w)
    val isNew = when(gap.isNull || gap > 1800000000L, 1).otherwise(0)
    val sess = sum(isNew).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    events.select(col("user_id"), us.as("us"), sess.as("sess"))
  }

  /** The oracle's [[sessions]]: CTEs x, y and z, z = (user_id, us, sess). */
  private val sessionCtes: String =
    """WITH x AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
       |  FROM events
       |), y AS (
       |  SELECT user_id, event_id, us,
       |         CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS isnew
       |  FROM x
       |), z AS (
       |  SELECT user_id, us,
       |         CAST(sum(isnew) OVER (PARTITION BY user_id ORDER BY us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
       |  FROM y
       |)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Tokenize + explode + count: the canonical wordcount, top-100.
    Q("q_wordcount",
      """SELECT tok, count(*) AS n FROM
        |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 100""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(100)
    },

    // Per-language corpus statistics.
    Q("q_lang_stats",
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       (CAST(sum(n_chars) AS BIGINT) / count(*)) AS avg_chars,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          countDistinct("source").as("n_sources"))
        .withColumn("avg_chars", col("sum_chars") / col("n_docs"))
        .select("lang", "n_docs", "sum_chars", "avg_chars", "n_sources")
        .orderBy("lang")
    },

    // Exact dedup: hash-groupBy on full text, keep lowest doc_id.
    // Exact-dup groups key on CANONICAL text (the round-11
    // canonicalize-before-dedup default — same contract as
    // q_doc_fingerprint): n_chars reports the canonical length, the
    // deterministic per-group value.
    Q("q_dedup_docs_exact",
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
         |       CAST(length(t) AS INTEGER) AS n_chars
         |FROM (SELECT doc_id, ${graft.functions.TextNorm.normalizeSql("text")} AS t
         |      FROM documents)
         |GROUP BY t ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextNormExprs.normalize_text(col("text")).as("t"))
        .groupBy("t")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), length(col("t")).as("n_chars"))
        .orderBy("keep_id")
    },

    // Token counting: whitespace + regex token classes.
    Q("q_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS alpha_tokens,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS num_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("alpha_tokens"),
        regexp_count(col("text"), lit("[0-9]+")).as("num_tokens"))
        .orderBy("doc_id")
    },

    // Quality scoring: length / stopword-density heuristics. All ratios are
    // exact-integer divisions → bit-identical doubles cross-engine.
    // Per-language QUALITY PERCENTILE gate (the FineWeb-style "keep the
    // top 80% of each language" curation move — an absolute threshold
    // would gut low-resource languages whose score distribution sits
    // lower): rank docs per lang by the q_quality_score signal and keep
    // rank ≤ 80% of the language's count, decided by the integer
    // cross-multiplication (rnk−1)·10 < n_lang·8 — no float percentile.
    // The score itself is a ratio of integers (one IEEE division —
    // bit-identical cross-engine) and ties break on doc_id, so the
    // per-lang row_number (a partitioned window, the sessionize class)
    // walks the same order in both engines.
    Q("q_quality_percentile_gate",
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |         ((${hitsSql(EnStops)} / CAST(len(string_split(text, ' ')) AS INTEGER)) * 0.5 +
         |          (CASE WHEN (CAST(length(replace(text, ' ', '')) AS INTEGER) / CAST(len(string_split(text, ' ')) AS INTEGER)) >= 3
         |                 AND (CAST(length(replace(text, ' ', '')) AS INTEGER) / CAST(len(string_split(text, ' ')) AS INTEGER)) <= 8
         |                THEN 0.5 ELSE 0.0 END)) AS score
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, score,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY score DESC, doc_id) AS rnk,
         |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
         |  FROM sc)
         |SELECT doc_id, lang, rnk, n_lang FROM r
         |WHERE (rnk - 1) * 10 < n_lang * 8
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks      = split(col("text"), " ")
      val nTok      = size(toks)
      val stopRatio = hits(toks, EnStops) / nTok
      val avgTokLen = length(regexp_replace(col("text"), " ", "")) / nTok
      val sc = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        (stopRatio * lit(0.5) +
          when(avgTokLen >= 3 && avgTokLen <= 8, lit(0.5)).otherwise(lit(0.0)))
          .as("score"))
      val w = Window.partitionBy("lang")
      sc.withColumn("rnk", row_number().over(
          w.orderBy(col("score").desc, col("doc_id"))))
        .withColumn("n_lang", count(lit(1)).over(w))
        .filter((col("rnk") - 1) * 10 < col("n_lang") * 8)
        .select("doc_id", "lang", "rnk", "n_lang")
        .orderBy("doc_id")
    },

    Q("q_quality_score",
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
         |  CAST(length(text) AS INTEGER) AS n_char,
         |  ${hitsSql(EnStops)} AS stop_hits,
         |  (${hitsSql(EnStops)} / CAST(len(string_split(text, ' ')) AS INTEGER)) AS stop_ratio,
         |  (CAST(length(replace(text, ' ', '')) AS INTEGER) / CAST(len(string_split(text, ' ')) AS INTEGER)) AS avg_tok_len,
         |  ((${hitsSql(EnStops)} / CAST(len(string_split(text, ' ')) AS INTEGER)) * 0.5 +
         |   (CASE WHEN (CAST(length(replace(text, ' ', '')) AS INTEGER) / CAST(len(string_split(text, ' ')) AS INTEGER)) >= 3
         |          AND (CAST(length(replace(text, ' ', '')) AS INTEGER) / CAST(len(string_split(text, ' ')) AS INTEGER)) <= 8
         |         THEN 0.5 ELSE 0.0 END)) AS score
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks      = split(col("text"), " ")
      val nTok      = size(toks)
      val stopHits  = hits(toks, EnStops)
      val stopRatio = stopHits / nTok
      val avgTokLen = length(regexp_replace(col("text"), " ", "")) / nTok
      Tables.documents(s, dir).select(
        col("doc_id"), nTok.as("n_tok"), length(col("text")).as("n_char"),
        stopHits.as("stop_hits"), stopRatio.as("stop_ratio"),
        avgTokLen.as("avg_tok_len"),
        (stopRatio * lit(0.5) +
          when(avgTokLen >= 3 && avgTokLen <= 8, lit(0.5)).otherwise(lit(0.0)))
          .as("score"))
        .orderBy("doc_id")
    },

    // Heuristic language ID: stopword-set occurrence voting with a
    // deterministic priority tiebreak.
    Q("q_lang_id",
      s"""SELECT doc_id, lang,
         |  ${hitsSql(EnStops)} AS en_hits, ${hitsSql(EsStops)} AS es_hits,
         |  ${hitsSql(DeStops)} AS de_hits,
         |  (CASE WHEN ${hitsSql(EnStops)} >= ${hitsSql(EsStops)}
         |         AND ${hitsSql(EnStops)} >= ${hitsSql(DeStops)}
         |         AND ${hitsSql(EnStops)} > 0 THEN 'en'
         |        WHEN ${hitsSql(EsStops)} >= ${hitsSql(DeStops)}
         |         AND ${hitsSql(EsStops)} > 0 THEN 'es'
         |        WHEN ${hitsSql(DeStops)} > 0 THEN 'de'
         |        ELSE 'und' END) AS pred
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val en   = hits(toks, EnStops)
      val es   = hits(toks, EsStops)
      val de   = hits(toks, DeStops)
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        en.as("en_hits"), es.as("es_hits"), de.as("de_hits"),
        when(en >= es && en >= de && en > 0, "en")
          .when(es >= de && es > 0, "es")
          .when(de > 0, "de")
          .otherwise("und").as("pred"))
        .orderBy("doc_id")
    },

    // TF-IDF top-3 terms per document — the classic relevance-weighting
    // layout: explode to tokens, TF = per-(doc, tok) count, DF = per-tok
    // distinct-doc count, score = tf · ln(N/df). Every stage is keyed by
    // high-cardinality columns (doc_id or tok) so it parallelizes with the
    // corpus; the DF side is Θ(vocab) rows — broadcast-sized after the
    // aggregation, so the TF⋈DF join ships only the small side. ln() is
    // libm-tainted → the score is rounded to 6 dp BEFORE ranking (house
    // rounding policy), ties broken by token, so rank order is
    // engine-independent.
    Q("q_tfidf_top_terms",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
        |), n AS (
        |  SELECT count(*) AS n FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |)
        |SELECT doc_id, rnk, tok, tf, df, tfidf FROM (
        |  SELECT doc_id, tok, tf, df, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, tok) AS INTEGER) AS rnk
        |  FROM scored)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf   = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // tf rows are distinct (doc, tok) pairs by construction, so DF is a
      // plain count over them — reuses the tf shuffle instead of a second
      // explode + countDistinct pass over every raw token
      val df   = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n    = docs.agg(count(lit(1)).as("n"))
      // df is vocab-sized — slow-growing but unbounded at 100 TB, so no
      // broadcast hint (AQE converts at runtime while it measures small);
      // both tf and df hash on tok, so the unhinted join is co-partitioned.
      // n is a single row: the hint is a constant, always safe.
      val scored = tf.join(df, "tok").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
      scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tf", "df", "tfidf")
        .orderBy("doc_id", "rnk")
    },

    // Vocabulary coverage curve (top-100): what fraction of all token
    // occurrences the top-r vocabulary covers — the tokenizer-sizing
    // curve. A naive rank is a GLOBAL ordered window (the one plan shape
    // PlanShapeSpec forbids); this is the scale-correct two-level
    // decomposition: (1) per-count-value aggregates (distinct count
    // values are provably O(√N) since counts sum to N) joined above-self
    // to get tokens/mass strictly ahead, (2) a window PARTITIONED BY the
    // count value for within-count tie ranks by token. Global rank =
    // ahead + within; cumulative mass = mass_ahead + n·within. The DuckDB
    // oracle runs the naive global-window form — hash equality proves the
    // decomposition.
    Q("q_vocab_coverage",
      """WITH wc AS (
        |  SELECT tok, count(*) AS n FROM
        |    (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok
        |), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM wc),
        |r AS (
        |  SELECT tok, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rnk,
        |         CAST(sum(n) OVER (ORDER BY n DESC, tok
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM wc
        |)
        |SELECT rnk, tok, CAST(n AS BIGINT) AS n, cum,
        |       round(CAST(cum AS DOUBLE) / t.total, 6) AS coverage
        |FROM r CROSS JOIN t
        |WHERE rnk <= 100 ORDER BY rnk""".stripMargin) { (s, dir) =>
      val wc = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val total = wc.agg(sum("n").as("total"))
      // per-count-value rollup: how many tokens and how much mass at each n
      val perN = wc.groupBy("n")
        .agg(count(lit(1)).as("toks_at"), sum("n").as("mass_at"))
      // strictly-ahead aggregates via a small self-join (d distinct count
      // values → d² pairs, d = O(√N)); left join keeps the top count value
      val ahead = perN.alias("a")
        .join(perN.alias("b"), col("b.n") > col("a.n"), "left")
        .groupBy(col("a.n").as("n"))
        .agg(coalesce(sum(col("b.toks_at")), lit(0L)).as("toks_ahead"),
          coalesce(sum(col("b.mass_at")), lit(0L)).as("mass_ahead"))
      val w = Window.partitionBy("n").orderBy("tok")
      // ahead is O(√N) rows but NOT constant: at 2e13 tokens (100 TB) that
      // is ~6M rows × 3 longs ≈ 150+ MB — feasible to broadcast but past
      // the point where pinning a hint is honest. No hint: AQE broadcasts
      // at runtime while it measures small, hash-joins when it doesn't.
      wc.join(ahead, "n")
        .withColumn("within", row_number().over(w).cast("long"))
        .crossJoin(broadcast(total))
        .select((col("toks_ahead") + col("within")).as("rnk"), col("tok"), col("n"),
          (col("mass_ahead") + col("n") * col("within")).as("cum"),
          round((col("mass_ahead") + col("n") * col("within")).cast("double")
            / col("total"), 6).as("coverage"))
        .filter(col("rnk") <= 100)
        .orderBy("rnk")
    },

    // Per-source ZIPF rank-frequency slope — the corpus-statistics fit
    // behind "does this source look like natural language": a least-
    // squares regression of ln(freq) on ln(rank) over each source's
    // top-[[ZipfTopR]] token ranks. Natural text sits near slope −1
    // (Zipf 1949); near-0 slopes flag uniform/generated vocabularies,
    // steeper-than−1 flags template spam with a few dominating tokens.
    // Exactness: ln(rank)/ln(freq) snap to integer micro-nats on the
    // |sources|×TopR-bounded model frame, sums are exact int64 (the
    // TopR cap is the magnitude budget: 256 ranks × micro² products
    // stay ≪ 2^63), and the one milli-slope multiply runs in
    // decimal(38,0)/HUGEINT so the worst-case numerator×1000 cannot
    // wrap. Scale: one corpus pass to (source, tok) counts, a window
    // partitioned by source, then the schedule lives on the bounded
    // frame.
    Q("q_zipf_slope",
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
         |freq AS (
         |  SELECT source, t, CAST(count(*) AS BIGINT) AS f
         |  FROM tok GROUP BY 1, 2),
         |ranked AS (
         |  SELECT source, f,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY f DESC, t) AS r
         |  FROM freq),
         |snapped AS (
         |  SELECT source,
         |         CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         |         CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
         |  FROM ranked WHERE r <= $ZipfTopR)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |       CAST(CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS HUGEINT)
         |            * 1000
         |            // (count(*) * sum(x * x) - sum(x) * sum(x))
         |            AS BIGINT) AS slope_milli
         |FROM snapped GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val freq = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy("source").orderBy(col("f").desc, col("t"))
      val snapped = freq
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= ZipfTopR)
        .select(col("source"),
          round(log(col("r").cast("double")) * 1000000).cast("long").as("x"),
          round(log(col("f").cast("double")) * 1000000).cast("long").as("y"))
      snapped.groupBy("source")
        .agg(count(lit(1)).as("n_types"),
          sum(col("x") * col("y")).as("sxy"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("source"), col("n_types"),
          expr("CAST((CAST(n_types * sxy - sx * sy AS DECIMAL(38,0)) * 1000)" +
            " div (n_types * sxx - sx * sx) AS BIGINT)").as("slope_milli"))
        .orderBy("source")
    },

    // HEAPS-LAW vocabulary growth (Heaps 1978): V(N) ≈ k·N^β — the
    // corpus-statistics companion to q_zipf_slope. Natural text grows
    // vocabulary at β ≈ 0.4–0.6; β near 0 flags a closed/generated
    // vocabulary (this synthetic corpus), β near 1 flags id-like token
    // streams. The curve: 20 FIXED growth checkpoints (b = doc_id·20 div
    // (max_id+1) — single-row total, so the bucket frame is bounded
    // model state at ANY corpus size, unlike a fixed bucket WIDTH whose
    // frame grows with the data), cumulative tokens via a ≤-join over
    // the 20-row series and cumulative types via the FIRST-TOUCH rewrite
    // (min doc_id per token — one corpus groupBy; the q_cum_distinct_
    // users mechanism, so the token stream never enters a global
    // window). The β fit rides the q_zipf_slope machinery: ln snapped to
    // integer micro-nats on the 20-row frame, exact integer moment sums,
    // milli-slope decided in decimal(38,0)/HUGEINT division.
    Q("q_heaps_law",
      """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |bt AS (
        |  SELECT CAST(doc_id * 20 // (SELECT m FROM mx) AS BIGINT) AS b,
        |         CAST(count(*) AS BIGINT) AS ntok
        |  FROM toks GROUP BY 1),
        |ft AS (SELECT tok, min(doc_id) AS d0 FROM toks GROUP BY 1),
        |nt AS (
        |  SELECT CAST(d0 * 20 // (SELECT m FROM mx) AS BIGINT) AS b,
        |         CAST(count(*) AS BIGINT) AS n_new
        |  FROM ft GROUP BY 1),
        |pts AS (
        |  SELECT a.b, CAST(sum(x.ntok) AS BIGINT) AS cum_toks,
        |         coalesce((SELECT CAST(sum(n_new) AS BIGINT)
        |                   FROM nt n WHERE n.b <= a.b), 0) AS cum_types
        |  FROM bt a JOIN bt x ON x.b <= a.b
        |  GROUP BY a.b),
        |sn AS (
        |  SELECT b, cum_toks, cum_types,
        |         CAST(round(ln(CAST(cum_toks AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |         CAST(round(ln(CAST(cum_types AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM pts),
        |sl AS (
        |  SELECT CAST(CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS HUGEINT)
        |              * 1000
        |              // nullif(count(*) * sum(x * x) - sum(x) * sum(x), 0)
        |              AS BIGINT)
        |           AS slope_milli
        |  FROM sn)
        |SELECT b, cum_toks, cum_types,
        |       (SELECT slope_milli FROM sl) AS heaps_slope_milli
        |FROM sn ORDER BY b""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val mx = Tables.documents(s, dir).agg((max("doc_id") + 1).as("m"))
      val bt = toks.crossJoin(broadcast(mx))
        .groupBy(expr("doc_id * 20 div m").as("b"))
        .agg(count(lit(1)).as("ntok"))
      val nt = toks.groupBy("tok").agg(min("doc_id").as("d0"))
        .crossJoin(broadcast(mx))
        .groupBy(expr("d0 * 20 div m").as("b"))
        .agg(count(lit(1)).as("n_new"))
      val pts = bt.select(col("b"))
        .join(broadcast(bt.select(col("b").as("xb"), col("ntok"))),
          col("xb") <= col("b"))
        .groupBy("b").agg(sum("ntok").as("cum_toks"))
        .join(bt.select(col("b"))
          .join(broadcast(nt.select(col("b").as("xb"), col("n_new"))),
            col("xb") <= col("b"), "left")
          .groupBy("b").agg(coalesce(sum("n_new"), lit(0L)).as("cum_types")),
          Seq("b"))
      val sn = pts.select(col("b"), col("cum_toks"), col("cum_types"),
        round(log(col("cum_toks").cast("double")) * 1000000)
          .cast("long").as("x"),
        round(log(col("cum_types").cast("double")) * 1000000)
          .cast("long").as("y"))
      val sl = sn.agg(count(lit(1)).as("np"), sum(expr("x * y")).as("sxy"),
          sum("x").as("sx"), sum("y").as("sy"), sum(expr("x * x")).as("sxx"))
        .select(expr("CAST((CAST(np * sxy - sx * sy AS DECIMAL(38,0)) * 1000)" +
          " div nullif(np * sxx - sx * sx, 0) AS BIGINT)")
          .as("heaps_slope_milli"))
      sn.select("b", "cum_toks", "cum_types")
        .crossJoin(broadcast(sl)).orderBy("b")
    },

    // Unigram-LM log-probability scoring — the perplexity-proxy quality
    // filter: score each doc by Σ tf·ln(p(tok)) under the corpus's own
    // unigram distribution (very low scores ≈ gibberish/outlier docs; the
    // cheap stand-in for model-based filtering). The vocab table is
    // broadcast-sized after aggregation; everything else keys on doc_id.
    // Cross-engine exactness: each token's ln(p) is snapped to integer
    // MICRO-nats first (the integer-cents rule applied to log space), so
    // per-doc sums are exact integers — no FP addition-order drift.
    Q("q_unigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        |), wc AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS t FROM wc
        |), lp AS (
        |  SELECT tok, CAST(round(ln(CAST(n AS DOUBLE) / t) * 1000000) AS BIGINT) AS lp_micro
        |  FROM wc CROSS JOIN tot
        |)
        |SELECT tf.doc_id,
        |       CAST(sum(tf.tf) AS BIGINT) AS n_tok,
        |       CAST(sum(tf.tf * lp.lp_micro) AS BIGINT) AS sum_lp_micro,
        |       (CAST(sum(tf.tf * lp.lp_micro) AS BIGINT) / CAST(sum(tf.tf) AS BIGINT)) AS avg_lp_micro
        |FROM tf JOIN lp USING (tok)
        |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf   = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val wc   = tf.groupBy("tok").agg(sum("tf").as("n"))
      val tot  = wc.agg(sum("n").as("t"))
      val lp   = wc.crossJoin(broadcast(tot))
        .select(col("tok"),
          round(log(col("n").cast("double") / col("t")) * 1000000).cast("long")
            .as("lp_micro"))
      // lp is vocab-sized (one row per distinct token) — no broadcast hint;
      // tf and lp both hash on tok so the join is co-partitioned, and AQE
      // still broadcasts at runtime while the vocabulary measures small.
      tf.join(lp, "tok")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tok"),
          sum(col("tf") * col("lp_micro")).as("sum_lp_micro"))
        .select(col("doc_id"), col("n_tok"), col("sum_lp_micro"),
          (col("sum_lp_micro") / col("n_tok")).as("avg_lp_micro"))
        .orderBy("doc_id")
    },

    // Repetition signals (Gopher-style quality filters): per-doc fraction
    // of bigram mass in the single most-frequent bigram, and fraction of
    // trigram occurrences belonging to repeated trigrams. High values flag
    // boilerplate/spam for corpus filtering. Grams are built per-row from
    // the token array (transform+slice — narrow, no shuffle); both
    // aggregations key on doc_id, so parallelism scales with the corpus.
    // Integer counts are emitted alongside the rounded fractions so any
    // cross-engine drift is attributable.
    Q("q_repetition_grams",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |                 i -> array_to_string(t[i:i+1], ' '))) AS g
        |  FROM t WHERE len(t) >= 2
        |), bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY doc_id, g),
        |bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, CAST(max(c) AS BIGINT) AS top2
        |  FROM bc GROUP BY doc_id
        |), tr AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |                 i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM t WHERE len(t) >= 3
        |), tc AS (SELECT doc_id, g, count(*) AS c FROM tr GROUP BY doc_id, g),
        |ts AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
        |  FROM tc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       coalesce(bs.n2, 0) AS n2, coalesce(bs.top2, 0) AS top2,
        |       coalesce(ts.n3, 0) AS n3, coalesce(ts.dup3, 0) AS dup3,
        |       round(CASE WHEN bs.n2 > 0 THEN CAST(bs.top2 AS DOUBLE) / bs.n2 ELSE 0 END, 6) AS top2_frac,
        |       round(CASE WHEN ts.n3 > 0 THEN CAST(ts.dup3 AS DOUBLE) / ts.n3 ELSE 0 END, 6) AS dup3_frac
        |FROM documents d
        |LEFT JOIN bs ON d.doc_id = bs.doc_id
        |LEFT JOIN ts ON d.doc_id = ts.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val t    = split(col("text"), " ")
      // per-row gram list; empty when the doc is shorter than k tokens
      // (sequence(1, n-k+1) would COUNT DOWN for n < k — Spark's sequence
      // reverses when start > stop, hence the explicit size guard)
      def grams(k: Int): Column =
        when(size(col("t")) >= k,
          transform(sequence(lit(1), size(col("t")) - (k - 1)),
            i => concat_ws(" ", slice(col("t"), i, lit(k)))))
          .otherwise(array().cast("array<string>"))
      val toks = docs.select(col("doc_id"), t.as("t"))
      val bs = toks.select(col("doc_id"), explode(grams(2)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n2"), max("c").as("top2"))
      val ts3 = toks.select(col("doc_id"), explode(grams(3)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n3"), sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"))
      docs.select(col("doc_id"))
        .join(bs, Seq("doc_id"), "left").join(ts3, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n2"), lit(0L)).as("n2"), coalesce(col("top2"), lit(0L)).as("top2"),
          coalesce(col("n3"), lit(0L)).as("n3"), coalesce(col("dup3"), lit(0L)).as("dup3"),
          round(when(col("n2") > 0, col("top2").cast("double") / col("n2")).otherwise(0.0), 6)
            .as("top2_frac"),
          round(when(col("n3") > 0, col("dup3").cast("double") / col("n3")).otherwise(0.0), 6)
            .as("dup3_frac"))
        .orderBy("doc_id")
    },

    // Eval-set decontamination: flag training documents sharing any 8-gram
    // with the held-out test split (the leading cause of benchmark
    // contamination is duplicated text crossing the split). Composes the
    // deterministic hash split (Sampling.bucket100 — so the split is
    // reproducible across runs AND engines) with per-row gram generation.
    // The test side is small by construction (10% of docs, distinct grams)
    // → broadcast; the train side never shuffles its grams. At 100 TB the
    // gram join key would be a 64-bit hash of the gram rather than the
    // string (same layout, narrower shuffle); strings keep the oracle
    // engine-exact here.
    Q("q_decontaminate",
      s"""WITH t AS (
         |  SELECT doc_id, ${Sampling.bucket100Sql("doc_id")} AS b,
         |         string_split(${graft.functions.TextNorm.normalizeSql("text")}, ' ') AS t
         |  FROM documents
         |), g AS (
         |  SELECT DISTINCT doc_id, b,
         |         unnest(list_transform(range(1, len(t) - 6),
         |                i -> array_to_string(t[i:i+7], ' '))) AS gram
         |  FROM t WHERE len(t) >= 8
         |), tr AS (SELECT doc_id, gram FROM g WHERE b < 90),
         |te AS (SELECT DISTINCT gram FROM g WHERE b >= 90)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM tr JOIN te USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      decontaminateFrom(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Gaps-and-islands sessionization over events (30-minute gap), the
    // batch analogue of streaming session windows.
    Q("q_sessionize",
      s"""$sessionCtes
        |SELECT user_id, sess, count(*) AS n,
        |       CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us
        |FROM z GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin) {
      (s, dir) =>
        sessions(Tables.events(s, dir))
          .groupBy("user_id", "sess")
          .agg(count(lit(1)).as("n"), min("us").as("start_us"), max("us").as("end_us"))
          .orderBy("user_id", "sess")
    },

    // Per-user session STATISTICS over the q_sessionize sessions — the
    // engagement summary layer (session counts, event/duration totals,
    // longest session) a product-analytics consumer reads instead of the
    // raw session list. Same gaps-and-islands base (shared SQL shape),
    // one further user-keyed aggregate; durations are exact epoch-us
    // integer differences, the mean is an exact trunc-div. All shuffles
    // key on user_id.
    Q("q_session_stats",
      s"""$sessionCtes, s AS (
        |  SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n,
        |         CAST(max(us) - min(us) AS BIGINT) AS dur_us
        |  FROM z GROUP BY user_id, sess)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(n) AS BIGINT) // CAST(count(*) AS BIGINT) AS events_per_session,
        |       CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
        |       CAST(max(dur_us) AS BIGINT) AS max_dur_us,
        |       CAST(max(n) AS BIGINT) AS max_session_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      sessions(Tables.events(s, dir))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n"), (max("us") - min("us")).as("dur_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"),
          expr("sum(n) div count(1)").as("events_per_session"),
          sum("dur_us").as("total_dur_us"), max("dur_us").as("max_dur_us"),
          max("n").as("max_session_events"))
        .orderBy("user_id")
    },

    // Tumbling 1-hour windows via Spark's window() — the batch twin of the
    // Structured Streaming tumbling aggregation (graft.streaming).
    Q("q_tumbling_hourly",
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"),
          countDistinct("user_id").as("n_users"))
        .select(unix_micros(col("window.start")).as("hour_us"),
          col("n"), col("value_cents"), col("n_users"))
        .orderBy("hour_us")
    },

    // Misra–Gries heavy-hitter words: a k-counter mergeable frequent-items
    // sketch (functions/HeavyHitters.scala) — the shuffle carries
    // O(partitions × k) entries where exact word counting shuffles the
    // whole vocabulary. Which BELOW-threshold stragglers survive depends
    // on arrival order → rows-only check; the formal guarantees (every
    // item with true count > n/(k+1) present; true - n/(k+1) ≤ est ≤ true)
    // are asserted against exact counts in QueriesSpec.
    Q.noOracle("q_heavy_hitters") { (s, dir) =>
      import s.implicits._
      val mg = new graft.functions.MisraGries(8)
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w")).as[String]
        .select(mg.toColumn) // typed select → Dataset[HHSummary], schema (items, ests)
        .select(explode(arrays_zip(col("items"), col("ests"))).as("e"))
        .select(col("e.items").as("word"), col("e.ests").as("est"))
        .orderBy(desc("est"), col("word"))
    },

    // HOT TERMS PER WINDOW — the bounded windowed Misra–Gries fold
    // (graft.streaming.Streams.hotTermsFold: one ≤k-counter MG summary
    // per tumbling 1-hour window on the durable GridFold protocol,
    // composed state ≤ maxWindows × k rows forever) driven here as a
    // deterministic batch simulation: ingest_ts synthesized from doc_id
    // (one doc per minute over a 3-hour clock), four arrival-order
    // batches folded through the REAL streaming kernel, final state
    // emitted. Rows-only (⊘) like q_heavy_hitters: which below-threshold
    // stragglers survive depends on where the batch cuts fall; the
    // formal MG envelope per window — every estimate ≤ its true count,
    // every token with true count > n_w/(k+1) present, ≤ k counters per
    // window — is gated against exact per-window counts in StreamingSpec
    // (including retention, replay, and restart-mid-stream drills).
    Q.noOracle("q_hot_terms") { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          timestamp_seconds((col("doc_id") % 180) * 60).as("ingest_ts"))
      var out: DataFrame = null
      val fold = graft.streaming.Streams.hotTermsFold(
        8, f => out = f.localCheckpoint())
      (0 until 4).foreach(i =>
        fold.step(docs.filter(col("doc_id") % 4 === i), i.toLong))
      out.orderBy(col("window_us"), desc("cnt"), col("tok"))
    },

    // Count–Min sketch point frequencies (functions/CountMin.scala) —
    // built through the Sketches.cmsBuckets cell map (explode rows 0..3 →
    // groupBy (row, bucket) count: a fixed 4×256-cell aggregate with
    // map-side partials, so the shuffle carries O(partitions × 1024)
    // counters regardless of vocabulary), then probed for every token
    // with exact count >= 50. The deterministic PolyHash family makes
    // the sketch a pure function of the token multiset, so DuckDB
    // rebuilds the IDENTICAL matrix and this is the sketch family's
    // first fully ORACLE-CHECKED member (vs rows-only q_heavy_hitters /
    // q_approx_stats). The estimate join touches a <=1024-row frame —
    // AQE broadcasts it unhinted. Overestimate-only and merge-invariance
    // guarantees are property-tested in CmsSpec.
    Q("q_cms_counts", cmsCountsSql) { (s, dir) =>
      val withH = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .select(col("tok"), poly_hash(col("tok")).as("h"))
      val cells = withH
        .select(explode(Sketches.cmsBuckets(col("h"))).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val probes = withH.groupBy("tok", "h").agg(count(lit(1)).as("n_exact"))
        .filter(col("n_exact") >= 50)
      probes
        .select(col("tok"), col("n_exact"),
          explode(Sketches.cmsBuckets(col("h"))).as("jb"))
        .select(col("tok"), col("n_exact"),
          col("jb.j").as("j"), col("jb.b").as("b"))
        .join(cells, Seq("j", "b"))
        .groupBy("tok", "n_exact").agg(min("cnt").as("n_cms"))
        .select(col("tok"), col("n_exact"), col("n_cms"),
          (col("n_cms") - col("n_exact")).as("overcount"))
        .orderBy("tok")
    },

    // PII detection + redaction. The synthetic corpus carries no PII, so
    // every 3rd document is augmented (identically in engine and oracle,
    // the FIXTURES.md pattern) with a deterministic email + phone token;
    // the operator then counts and redacts both classes. Narrow per-row
    // regex work — no shuffle besides the presentation sort; at 100 TB
    // this composes with the scan at full input parallelism. Patterns are
    // kept in the RE2 ∩ java.util.regex common dialect so engine and
    // oracle compile the same automaton.
    Q("q_pii_redact",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |                   || '@example.com or call 555-'
         |                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |              ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$PiiEmail')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PiiPhone')) AS INTEGER) AS n_phones,
         |  CAST(length(regexp_replace(regexp_replace(t, '$PiiEmail', '<EMAIL>', 'g'),
         |                             '$PiiPhone', '<PHONE>', 'g')) AS INTEGER)
         |    AS n_chars_red
         |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(PiiEmail)).as("n_emails"),
          regexp_count(col("t"), lit(PiiPhone)).as("n_phones"),
          length(redactPii(col("t"))).as("n_chars_red"))
        .orderBy("doc_id")
    },

    // C4/Gopher-style quality gates (Raffel et al. 2020; Rae et al. 2021):
    // named boolean rules — word-count band, mean-word-length band,
    // stopword floor, duplicate-word ceiling — plus the conjunctive keep
    // flag. Distinct from q_quality_score (a weighted score): gates are
    // the filter stage a curation pipeline actually branches on. All
    // per-row arithmetic on exact ints → bit-identical doubles.
    Q("q_quality_gates",
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
         |  (CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |     / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS mean_wlen,
         |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |     / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS distinct_ratio,
         |  (len(string_split(text, ' ')) BETWEEN 20 AND 100000) AS g_len,
         |  ((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |     / CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3 AND 10) AS g_wlen,
         |  (${hitsSql(EnStops)} >= 2) AS g_stop,
         |  ((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |     / CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 0.1) AS g_distinct,
         |  ((len(string_split(text, ' ')) BETWEEN 20 AND 100000)
         |    AND ((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3 AND 10)
         |    AND (${hitsSql(EnStops)} >= 2)
         |    AND ((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 0.1)) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks     = split(col("text"), " ")
      val nW       = size(toks)
      val meanWlen = length(regexp_replace(col("text"), " ", "")).cast("double") /
        nW.cast("double")
      val dr       = size(array_distinct(toks)).cast("double") / nW.cast("double")
      val gLen  = nW.between(20, 100000)
      val gWlen = meanWlen.between(3, 10)
      val gStop = hits(toks, EnStops) >= 2
      val gDist = dr >= 0.1
      Tables.documents(s, dir).select(
        col("doc_id"), nW.as("n_words"), meanWlen.as("mean_wlen"),
        dr.as("distinct_ratio"), gLen.as("g_len"), gWlen.as("g_wlen"),
        gStop.as("g_stop"), gDist.as("g_distinct"),
        qualityKeep(col("text")).as("keep")) // same tree as gLen&&gWlen&&gStop&&gDist
        .orderBy("doc_id")
    },

    // Character-level Shannon entropy per document — the classic
    // gibberish/encoded-blob detector (low entropy = repeated filler, high
    // entropy = base64/binary junk; natural text sits in a narrow band).
    // Cross-engine exactness via the engine's micro-nat rule
    // (q_unigram_logprob / ops/LM.scala): each char's ln(n_c/n) snaps to
    // integer micro-nats, so the per-doc total -Σ n_c·lp_micro is an exact
    // integer sum (order-free) and the per-char average is ONE IEEE double
    // division of identical integers. Scale shape: the Spark side is a
    // NARROW per-row expression — the char histogram, the ln's, and the
    // reduction all run inside one projection over the scan (alphabet ×
    // doc-length work per row, zero shuffle, zero state); only the final
    // declared ORDER BY exchanges. The oracle states the same arithmetic
    // as unnest + GROUP BY, which DuckDB is free to plan its own way.
    Q("q_char_entropy",
      """WITH ch AS (
        |  SELECT doc_id, length(text) AS n,
        |         unnest(string_split(text, '')) AS c
        |  FROM documents),
        |hist AS (
        |  SELECT doc_id, n, c, count(*) AS n_c
        |  FROM ch GROUP BY doc_id, n, c),
        |lp AS (
        |  SELECT doc_id, n, n_c,
        |         CAST(round(ln(CAST(n_c AS DOUBLE) / n) * 1000000)
        |              AS BIGINT) AS lp_micro
        |  FROM hist)
        |SELECT doc_id, CAST(min(n) AS INTEGER) AS n_chars,
        |       CAST(count(*) AS INTEGER) AS n_distinct_chars,
        |       CAST(-sum(n_c * lp_micro) AS BIGINT) AS ent_micro_tot,
        |       (CAST(-sum(n_c * lp_micro) AS BIGINT) / CAST(min(n) AS DOUBLE))
        |         AS ent_per_char_micro
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Spark's split(text, "") keeps a trailing empty element (Java regex
      // split with limit -1) where DuckDB's string_split does not —
      // decompose via sequence+substring so both engines see length(text)
      // chars exactly
      val chars = "transform(sequence(1, length(text)), i -> substring(text, i, 1))"
      val cs    = expr(chars)
      // per-row char histogram: for each DISTINCT char, its count; then
      // -Σ n_c · round(ln(n_c/n)·1e6) folded with `aggregate` — all one
      // narrow codegen'd projection, nothing leaves the scan task
      val entTot = expr(
        s"""aggregate(
          |  transform(array_distinct($chars),
          |    c -> size(filter($chars, x -> x = c))),
          |  0L,
          |  (acc, nc) -> acc - nc * CAST(round(
          |    ln(CAST(nc AS DOUBLE) / length(text)) * 1000000) AS LONG))
          |""".stripMargin)
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(array_distinct(cs)).as("n_distinct_chars"),
        entTot.as("ent_micro_tot"),
        (entTot / length(col("text")).cast("double")).as("ent_per_char_micro"))
        .orderBy("doc_id")
    },

    // UNICODE CANONICALIZATION (NFC + simple-map lowercase + ASCII
    // whitespace collapse — functions.TextNorm, a codegen'd Catalyst
    // expression). The fixture text is pure ASCII (probed: max codepoint
    // 0x7e), which would make this gate vacuous — so each document gets a
    // deterministic NON-ASCII decorated raw string, and consecutive
    // (even, odd) documents get DIFFERENT raw forms of the SAME canonical
    // string: composed vs combining-mark accents (é vs e+U+0301, Å vs
    // A+U+030A, the U+212B angstrom-sign singleton), case, and
    // tab/newline/run-of-space noise. Green proves the full chain agrees
    // with DuckDB's nfc_normalize + utf8proc lower + regexp collapse,
    // per cell. Scale shape: stateless narrow per-row kernel, zero
    // shuffle, WholeStageCodegen via one static call.
    Q("q_text_normalize",
      s"""WITH r AS (SELECT doc_id, $rawVariantSql AS raw FROM documents)
         |SELECT doc_id, raw, ${graft.functions.TextNorm.normalizeSql("raw")}
         |         AS norm_text
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), rawVariant.as("raw"))
        .withColumn("norm_text",
          graft.functions.TextNormExprs.normalize_text(col("raw")))
        .orderBy("doc_id")
    },

    // The fingerprint plane RE-DECLARED over canonicalized text: exact-dup
    // detection (q_doc_fingerprint's PolyHash contract) finds the
    // (even, odd) raw variants only AFTER normalization — the reason
    // production pipelines canonicalize before dedup. Every pair collapses
    // to dup_group_size 2; the brute raw strings never collide. The group
    // count rides a fingerprint-partitioned window (content-keyed, never
    // global).
    Q("q_fingerprint_normalized",
      s"""WITH r AS (SELECT doc_id, $rawVariantSql AS raw FROM documents),
         |n AS (SELECT doc_id,
         |             ${graft.functions.TextNorm.normalizeSql("raw")} AS nt
         |      FROM r),
         |f AS (SELECT doc_id, ${Dedup.hashSql("nt")} AS fp FROM n)
         |SELECT doc_id, fp,
         |       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT)
         |         AS dup_group_size
         |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          poly_hash(graft.functions.TextNormExprs.normalize_text(rawVariant))
            .as("fp"))
        .withColumn("dup_group_size",
          count(lit(1)).over(Window.partitionBy("fp")).cast("long"))
        .orderBy("doc_id")
    }
  )

  // ---- Unicode canonicalization fixtures (round 10) ---------------------

  /** Deterministic non-ASCII raw decoration: pair p = doc_id div 2 picks
    * the canonical string (via style p % 3 and a per-pair fragment), and
    * doc_id % 2 picks which RAW FORM of it this document carries. Unicode
    * escapes throughout so source encoding can't drift: U+0301 combining
    * acute, U+030A combining ring, U+0308 combining diaeresis, U+212B
    * angstrom sign (an NFC singleton), Greek sigma/alpha.
    */
  private def rawVariant: Column = {
    val frag  = expr("concat('doc ', CAST(doc_id div 2 AS STRING))")
    val style = expr("(doc_id div 2) % 3")
    val odd   = expr("doc_id % 2 = 1")
    val head = when(style === 0,
        when(odd, lit("  CAFE\u0301  DU\tJOUR "))
          .otherwise(lit("Caf\u00E9 du Jour ")))
      .when(style === 1,
        when(odd, lit("A\u030Angstro\u0308m\t"))
          .otherwise(lit("\u212Bngstr\u00F6m ")))
      .otherwise(
        when(odd, lit(" \u03C3\u03B1\u03C3\n "))
          .otherwise(lit("\u03A3\u0391\u03A3 ")))
    concat(head, frag, when(odd, lit("  ")).otherwise(lit("")))
  }

  /** The identical decoration in DuckDB SQL (same escapes, same casing). */
  private def rawVariantSql: String =
    "(CASE WHEN (doc_id // 2) % 3 = 0 THEN " +
      "(CASE WHEN doc_id % 2 = 1 THEN '  CAFE\u0301  DU\tJOUR ' " +
      "ELSE 'Caf\u00E9 du Jour ' END) " +
      "WHEN (doc_id // 2) % 3 = 1 THEN " +
      "(CASE WHEN doc_id % 2 = 1 THEN 'A\u030Angstro\u0308m\t' " +
      "ELSE '\u212Bngstr\u00F6m ' END) " +
      "ELSE (CASE WHEN doc_id % 2 = 1 THEN ' \u03C3\u03B1\u03C3\n ' " +
      "ELSE '\u03A3\u0391\u03A3 ' END) END " +
      "|| 'doc ' || CAST(doc_id // 2 AS VARCHAR) " +
      "|| (CASE WHEN doc_id % 2 = 1 THEN '  ' ELSE '' END))"
}
