package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Bloom

/** Lakehouse table-maintenance surface: CDC changelog→snapshot (with
  * incremental upsert-merge), incremental materialized-aggregate
  * maintenance, Z-order (Morton) layout keys, and Bloom-filter runtime
  * join pruning. The reference's engine delegates mutation to Postgres
  * (UPDATE-join R19, staging lifecycle R11/R12 — sql_to_line.py:120-160);
  * at 100 TB a table is an immutable columnar log and these four are what
  * "UPDATE" becomes: apply a changelog, maintain the derived aggregates,
  * keep the layout scan-efficient, and prune shuffles with sketches.
  *
  * Incremental-maintenance posture (shared with Dedup.incrementalNearDup
  * and Similarity's IVF append): every op here costs O(|delta| + |touched
  * state|) per batch, never O(|history|) — the full-recompute form exists
  * only as the ORACLE each incremental result must equal.
  */
object Lakehouse {

  import Relational.cents

  /** The events table read as a CDC changelog on key `user_id`:
    * `error` events are delete tombstones, everything else upserts the
    * payload (event_type, value). LWW order is (ts, event_id) — event_id
    * breaks same-microsecond ties deterministically.
    */
  private def changelog(ev: DataFrame): DataFrame =
    ev.select(col("user_id").as("k"), col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("event_type").as("payload_type"), cents(col("value")).as("value_cents"))

  /** Last-writer-wins snapshot: latest op per key; a tombstone-last key is
    * absent. One keyed exchange + per-key top-1 (no global sort); at scale
    * the snapshot stays bucketed by `k` so successive merges reuse the
    * partitioning.
    */
  private[graft] def snapshot(log: DataFrame): DataFrame = {
    val w = Window.partitionBy("k").orderBy(col("ts").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("k").as("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("payload_type"), col("value_cents"))
  }

  /** Incremental CDC apply: fold a new changelog batch into an existing
    * snapshot WITHOUT touching history. Correct because every batch ts is
    * ≥ every snapshot ts (append-only log), so LWW over (snapshot-as-
    * upserts ∪ batch) equals LWW over the full history — q_cdc_upsert_merge
    * asserts that equality against the full-recompute oracle. Cost:
    * O(|snapshot| + |batch|) per merge vs O(|history|) for recompute.
    */
  private[graft] def upsertMerge(prev: DataFrame, batch: DataFrame): DataFrame =
    snapshot(prev.select(col("user_id").as("k"),
        timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        lit("U").as("op"), col("payload_type"), col("value_cents"))
      .unionByName(batch))

  /** Per-(day, event_type) algebraic aggregate — the materialized view
    * whose maintenance q_agg_incremental exercises.
    */
  private def dailyAgg(ev: DataFrame): DataFrame =
    ev.groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))

  /** Merge a delta aggregate into a materialized aggregate: re-aggregate
    * the union (count/sum are algebraic — partials add). The exchange
    * carries only group rows, O(|MV| + |delta groups|), never raw history.
    */
  private[graft] def mergeDailyAgg(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta).groupBy("d", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("value_cents")).as("value_cents"))

  /** Spread the low 16 bits of `x` into the even bit positions of a 32-bit
    * lane (Morton/Z-order; masks are the standard public bit-interleave
    * sequence, e.g. Hacker's Delight §7-2 / graphics literature). Pure
    * bitwise Column ops — codegen'd, and expressible verbatim in the
    * DuckDB oracle.
    */
  private def spread16(x: Column): Column =
    Seq((8, 16711935L), (4, 252645135L), (2, 858993459L), (1, 1431655765L))
      .foldLeft(x.bitwiseAND(lit(65535L))) { case (acc, (sh, mask)) =>
        acc.bitwiseOR(shiftleft(acc, sh)).bitwiseAND(lit(mask))
      }

  /** Z-order key interleaving two 16-bit dimensions: a total order in
    * which points close in BOTH dimensions are close in the order, so
    * min/max row-group stats prune 2-dimensional range predicates — the
    * multi-column analog of sorting by one column (SCALING.md records
    * the actual rows-read reduction; Sinks.zorderWrite is the layout
    * writer).
    */
  private[graft] def zval(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Bloom sizing for the runtime-filter query: 2^17 bits = 16 KiB —
    * broadcast-trivial, and ~131 bits/key at the 1 000-supplier sf0.1
    * build side (fp rate ≪ 1e-9 at k=5). At 100 TB the build side is
    * whatever dimension subset the join selects; the sketch size is FIXED,
    * independent of fact-side scale.
    */
  private val BloomBits   = 1 << 17
  private val BloomHashes = 5

  val queries: Seq[Q] = Seq(

    // CDC changelog → snapshot: LWW per key, tombstones delete.
    Q("q_cdc_snapshot",
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |       event_type AS payload_type,
        |       CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      snapshot(changelog(Tables.events(s, dir))).orderBy("user_id")
    },

    // Incremental CDC: snapshot(history < cutoff) ⊕ batch(≥ cutoff) must
    // equal the full-history snapshot — the oracle IS the full recompute.
    Q("q_cdc_upsert_merge",
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |       event_type AS payload_type,
        |       CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev     = Tables.events(s, dir)
      val cutoff = to_timestamp(lit("2024-01-24 00:00:00"))
      val prev   = snapshot(changelog(ev.filter(col("ts") < cutoff)))
      val batch  = changelog(ev.filter(col("ts") >= cutoff))
      upsertMerge(prev, batch).orderBy("user_id")
    },

    // Materialized-aggregate maintenance: MV(history) ⊕ agg(delta) must
    // equal the full aggregate (count/sum partials are algebraic).
    Q("q_agg_incremental",
      """SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin) {
      (s, dir) =>
        val ev     = Tables.events(s, dir)
        val cutoff = to_timestamp(lit("2024-01-24 00:00:00"))
        mergeDailyAgg(dailyAgg(ev.filter(col("ts") < cutoff)),
            dailyAgg(ev.filter(col("ts") >= cutoff)))
          .orderBy("d", "event_type")
    },

    // Z-order layout key: bit-interleaved (l_partkey, l_suppkey) — the
    // clustering key Sinks.zorderWrite sorts by; cross-engine exact
    // because both engines run the same four mask-shift rounds.
    Q("q_zorder_layout",
      """WITH s0 AS (SELECT l_orderkey, l_linenumber,
        |              (l_partkey & 65535) AS a, (l_suppkey & 65535) AS b
        |            FROM lineitem),
        |s1 AS (SELECT l_orderkey, l_linenumber,
        |         ((a | (a << 8)) & 16711935) AS a,
        |         ((b | (b << 8)) & 16711935) AS b FROM s0),
        |s2 AS (SELECT l_orderkey, l_linenumber,
        |         ((a | (a << 4)) & 252645135) AS a,
        |         ((b | (b << 4)) & 252645135) AS b FROM s1),
        |s3 AS (SELECT l_orderkey, l_linenumber,
        |         ((a | (a << 2)) & 858993459) AS a,
        |         ((b | (b << 2)) & 858993459) AS b FROM s2),
        |s4 AS (SELECT l_orderkey, l_linenumber,
        |         ((a | (a << 1)) & 1431655765) AS a,
        |         ((b | (b << 1)) & 1431655765) AS b FROM s3)
        |SELECT l_orderkey, l_linenumber, (a | (b << 1)) AS zval
        |FROM s4 ORDER BY zval, l_orderkey, l_linenumber
        |LIMIT 20000""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          zval(col("l_partkey"), col("l_suppkey")).as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber")
        .limit(20000)
    },

    // Runtime-filter semi join: a 16 KiB Bloom sketch of the dimension
    // subset prunes fact rows BEFORE the exact join's shuffle. The filter
    // admits false positives only, and the exact semi join removes them —
    // so the oracle is the PLAIN semi join: the sketch must be invisible
    // in the result, visible only in shuffle volume (SCALING.md records
    // the reduction with broadcast disabled).
    Q("q_bloom_semi_join",
      """SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem
        |WHERE l_suppkey IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 5000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      import s.implicits._
      val keys = Tables.supplier(s, dir)
        .filter(col("s_acctbal") >= 5000).select(col("s_suppkey"))
      val sketch = keys.as[Long]
        .select(Bloom.agg(BloomBits, BloomHashes)).toDF("bloom")
      // exact step is an INNER join on the unique dimension key (row-
      // equivalent to a semi join), NOT left_semi: Spark's
      // PushDownLeftSemiAntiJoin would hoist a semi join BELOW this
      // filter, and the exchange would carry the unpruned fact again
      // (measured: identical shuffle bytes with and without the sketch)
      Tables.lineitem(s, dir)
        .crossJoin(broadcast(sketch))
        .filter(Bloom.mightContain(col("bloom"), col("l_suppkey"),
          BloomBits, BloomHashes))
        .join(keys, col("l_suppkey") === col("s_suppkey"))
        .select("l_orderkey", "l_linenumber", "l_suppkey")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Zone-map pruning over the Z-ordered layout — the stats half of the
    // data-skipping story (q_zorder_layout is the layout half): blocks are
    // z-value RANGES (zval div 8192 — at scale these are the row groups a
    // zorderWrite-sorted writer emits; a value-range block needs NO global
    // window to assign), each carrying min/max of both clustered
    // dimensions. For the fixed 2-D rectangle predicate the query emits
    // every block's stats, its scanned/pruned decision, and the EXACT
    // in-block match count — so the oracle check itself proves soundness
    // (matches only inside scanned blocks; ZonemapSpec asserts it
    // explicitly, plus effectiveness: most blocks prune). At sf0.01 the
    // rectangle touches 2 of 32 blocks — the 94% skip a 1-D sort could
    // not give both dimensions at once. All-integer plan: one groupBy on
    // the derived block id, no shuffle beyond it.
    Q("q_zonemap_prune",
      s"""WITH s0 AS (SELECT l_partkey, l_suppkey,
         |              (l_partkey & 65535) AS a, (l_suppkey & 65535) AS b
         |            FROM lineitem),
         |s1 AS (SELECT * REPLACE (((a | (a << 8)) & 16711935) AS a,
         |                         ((b | (b << 8)) & 16711935) AS b) FROM s0),
         |s2 AS (SELECT * REPLACE (((a | (a << 4)) & 252645135) AS a,
         |                         ((b | (b << 4)) & 252645135) AS b) FROM s1),
         |s3 AS (SELECT * REPLACE (((a | (a << 2)) & 858993459) AS a,
         |                         ((b | (b << 2)) & 858993459) AS b) FROM s2),
         |s4 AS (SELECT * REPLACE (((a | (a << 1)) & 1431655765) AS a,
         |                         ((b | (b << 1)) & 1431655765) AS b) FROM s3),
         |z AS (SELECT l_partkey, l_suppkey, (a | (b << 1)) AS zval FROM s4),
         |b AS (SELECT zval // $ZoneBlockDiv AS block,
         |        CAST(count(*) AS BIGINT) AS n_rows,
         |        min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         |        min(l_suppkey) AS smin, max(l_suppkey) AS smax,
         |        CAST(sum(CASE WHEN l_partkey BETWEEN $ZoneP1 AND $ZoneP2
         |                       AND l_suppkey BETWEEN $ZoneS1 AND $ZoneS2
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |      FROM z GROUP BY 1)
         |SELECT block, n_rows, pmin, pmax, smin, smax,
         |       CAST(CASE WHEN pmax >= $ZoneP1 AND pmin <= $ZoneP2
         |                  AND smax >= $ZoneS1 AND smin <= $ZoneS2
         |                 THEN 1 ELSE 0 END AS INTEGER) AS scanned,
         |       n_match
         |FROM b ORDER BY block""".stripMargin) { (s, dir) =>
      val z = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          zval(col("l_partkey"), col("l_suppkey")).as("zval"))
      val pred = col("l_partkey").between(ZoneP1, ZoneP2) &&
        col("l_suppkey").between(ZoneS1, ZoneS2)
      z.groupBy(expr(s"zval div $ZoneBlockDiv").as("block"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"),
          sum(when(pred, 1L).otherwise(0L)).as("n_match"))
        .withColumn("scanned",
          (col("pmax") >= ZoneP1 && col("pmin") <= ZoneP2 &&
            col("smax") >= ZoneS1 && col("smin") <= ZoneS2).cast("int"))
        .select("block", "n_rows", "pmin", "pmax", "smin", "smax",
          "scanned", "n_match")
        .orderBy("block")
    }
  )

  /** Zone-map demo constants: z-range block width and the 2-D rectangle
    * (power-of-two aligned so Z-order separates it cleanly).
    */
  final val ZoneBlockDiv = 8192L
  final val ZoneP1 = 256L
  final val ZoneP2 = 511L
  final val ZoneS1 = 32L
  final val ZoneS2 = 47L
}
