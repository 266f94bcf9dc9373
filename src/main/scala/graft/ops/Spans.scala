package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Exact duplicated-SPAN detection — the substring-level dedup of Lee et
  * al. 2022 ("Deduplicating Training Data Makes Language Models Better"),
  * which removes verbatim repeated passages that document-level and
  * chunk-level dedup both miss (a boilerplate footer inside otherwise
  * unique pages). Their suffix-array formulation is single-machine; the
  * distributed equivalent is the sliding-window join:
  *
  *  1. every [[SpanLen]]-token window of every document, keyed by window
  *     CONTENT (at fixture scale the key is the window string itself so
  *     the oracle is cell-exact; at 100 TB you key by a 128-bit content
  *     hash — same plan, 16-byte keys);
  *  2. one window-keyed shuffle marks windows occurring >= 2 times
  *     corpus-wide (a count over the key partition — no self-join, the
  *     frame is touched once);
  *  3. one doc-keyed shuffle coalesces each document's duplicated window
  *     positions into MAXIMAL spans via gaps-and-islands (an island breaks
  *     where the next window no longer overlaps the running coverage).
  *
  * Two keyed shuffles of the windows frame total, both on high-cardinality
  * keys; no global window, no cartesian. Per-doc window counts are bounded
  * by document length, so the islands window is per-key bounded state.
  */
object Spans {

  /** Window length in tokens. Matches [[Curation.ChunkLen]] so span-level
    * findings are comparable with chunk-level dedup.
    */
  final val SpanLen = 8

  /** The span pipeline over an explicit documents frame. */
  private[graft] def dupSpansFrom(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    val wins = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= SpanLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - $SpanLen + 1), " +
        s"i -> concat_ws(' ', slice(toks, i, $SpanLen)))"))
        .as(Seq("pos0", "win")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("win"))
    // shuffle 1: content-keyed occurrence count (window function — the
    // frame is shuffled once, not self-joined)
    val dup = wins
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("win")))
      .filter(col("n_occ") >= 2)
      .select("doc_id", "pos")
    // shuffle 2: doc-keyed gaps-and-islands; windows at p < q overlap
    // iff q <= p + SpanLen - 1, so an island breaks when the running
    // position max falls more than SpanLen - 1 behind
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevMax = max("pos").over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("brk",
        when(col("pos") > coalesce(prevMax, lit(-SpanLen)) + (SpanLen - 1), 1)
          .otherwise(0))
      .withColumn("island", sum("brk").over(byPos))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + (SpanLen - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** The span-pipeline oracle CTE chain (windows → occurrence counts →
    * duplicated positions → gaps-and-islands), minus the final SELECT —
    * shared by q_dup_spans and the composed pipeline oracle (Pipeline).
    * The last CTE `i` holds (doc_id, pos, island).
    */
  private[ops] def dupSpansCtes: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id,
       |         unnest([struct_pack(pos := i,
       |                  win := array_to_string(toks[i:i+${SpanLen - 1}], ' '))
       |                 for i in range(1, len(toks) - $SpanLen + 2)]) AS u
       |  FROM t WHERE len(toks) >= $SpanLen),
       |c AS (
       |  SELECT doc_id, u.pos AS pos,
       |         count(*) OVER (PARTITION BY u.win) AS n_occ
       |  FROM w),
       |m AS (SELECT doc_id, pos FROM c WHERE n_occ >= 2),
       |b AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos > coalesce(max(pos) OVER (
       |                PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                -$SpanLen) + ${SpanLen - 1}
       |              THEN 1 ELSE 0 END AS brk
       |  FROM m),
       |i AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM b)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Maximal duplicated spans per document: island id (1-based, in
    // position order), token span [span_start, span_end] (1-based,
    // inclusive), and how many duplicated windows the span coalesced.
    Q("q_dup_spans",
      s"""$dupSpansCtes
         |SELECT doc_id, CAST(island AS BIGINT) AS island,
         |       CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + ${SpanLen - 1} AS BIGINT) AS span_end,
         |       CAST(count(*) AS BIGINT) AS n_windows
         |FROM i GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      dupSpansFrom(Tables.documents(s, dir))
    },

    // Per-document novelty: the fraction of a document's SpanLen-token
    // windows that no EARLIER document (lower doc_id — ingest order)
    // contains — the text-novelty signal of the memorization literature
    // (Lee et al. 2022 measure its complement, duplicated text). A window
    // is novel iff the corpus-wide min doc_id over its content equals the
    // document's own id; intra-document repeats stay novel. One
    // content-keyed shuffle (min-doc window function over the same frame
    // q_dup_spans shuffles — no self-join) + one doc-keyed aggregation;
    // the ratio is one IEEE division of identical integers.
    Q("q_ngram_novelty",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (
         |  SELECT doc_id,
         |         unnest([struct_pack(pos := i,
         |                  win := array_to_string(toks[i:i+${SpanLen - 1}], ' '))
         |                 for i in range(1, len(toks) - $SpanLen + 2)]) AS u
         |  FROM t WHERE len(toks) >= $SpanLen),
         |f AS (
         |  SELECT doc_id,
         |         min(doc_id) OVER (PARTITION BY u.win) AS first_doc
         |  FROM w)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_windows,
         |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_novel,
         |       (CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |             AS BIGINT) / CAST(count(*) AS DOUBLE)) AS novelty
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val wins = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= SpanLen)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(toks) - $SpanLen + 1), " +
          s"i -> concat_ws(' ', slice(toks, i, $SpanLen)))")).as("win"))
      wins
        .withColumn("first_doc",
          min("doc_id").over(Window.partitionBy("win")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_windows"), col("n_novel"),
          (col("n_novel") / col("n_windows").cast("double")).as("novelty"))
        .orderBy("doc_id")
    }
  )
}
