package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` stream (SURVEY §2.2):
  * watermarked tumbling/sliding/session windows, within-watermark dedup,
  * and arbitrary stateful sessionization via flatMapGroupsWithState.
  *
  * Every transform takes the events frame (batch or streaming — the same
  * logical plan runs in both modes; the watermark is applied only when the
  * input is streaming). The batch twins are oracle-checked
  * (q_tumbling_hourly, q_sessionize); the streaming runs are
  * MemoryStream-tested (StreamingSpec) for watermark/late-data semantics.
  *
  * Scale: windowed aggregations shuffle by (window, key) with map-side
  * partial aggregation; state stores are per-key and bounded by the
  * watermark TTL — the layout that survives wide clusters.
  */
object Streams {

  final val WatermarkDelay = "10 minutes"
  final val SessionGap     = "30 minutes"

  private def maybeWatermark(events: DataFrame): DataFrame =
    maybeWatermarkOn(events, "ts")

  /** Streaming corpus curation: the C4/Gopher quality-gate filter plus PII
    * redaction as one stateless per-row stage — no watermark, no state
    * store; it composes with any source at full input parallelism, and the
    * SAME Column expressions run in batch (TextOps.qualityKeep /
    * redactPii), so batch ≡ stream by construction (StreamingSpec asserts
    * it on a multi-batch MemoryStream feed).
    */
  def curateDocs(docs: DataFrame): DataFrame =
    docs.filter(graft.ops.TextOps.qualityKeep(col("text")))
      .withColumn("text", graft.ops.TextOps.redactPii(col("text")))

  /** Windowed COUNT-MIN grid over a document stream — the oracle-checked
    * twin of [[hotTermsPerWindow]]'s Misra–Gries summary: per (window, j,
    * b) the exact cell count of the q_cms_counts grid (same PolyHash cell
    * map, Sketches.cmsBuckets), so any term's windowed frequency estimate
    * is min over its 4 cells, with the standard CMS overcount envelope.
    * State per window is the FIXED 4×256 grid whatever the vocabulary or
    * ingest rate; the watermark closes windows and evicts their state.
    * Counts are additive (not max-mergeable like the HLL registers), so
    * exactly-once delivery to the sink is the Structured Streaming
    * aggregation guarantee this rides — a replayed TRIGGER re-emits the
    * same finalized grid (state-store idempotence), it does not
    * double-count. Batch ≡ stream by construction: the identical plan
    * runs on a batch frame (StreamingSpec asserts grid equality on an
    * out-of-order multi-batch feed).
    */
  def cmsGridPerWindow(docs: DataFrame): DataFrame =
    maybeWatermarkOn(docs, "ingest_ts")
      .select(col("ingest_ts"), explode(split(col("text"), " ")).as("tok"))
      .select(col("ingest_ts"),
        graft.functions.exprs.poly_hash(col("tok")).as("h"))
      .select(col("ingest_ts"),
        explode(graft.ops.Sketches.cmsBuckets(col("h"))).as("jb"))
      .groupBy(window(col("ingest_ts"), "1 hour"),
        col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("window_us"),
        col("j"), col("b"), col("cnt"))

  /** Windowed heavy-hitter terms over a document stream: the mergeable
    * Misra–Gries Aggregator (functions/HeavyHitters) as a streaming
    * windowed aggregate — per (window) state is the bounded k-entry
    * summary, NOT the vocabulary, so state size is O(windows × k) at any
    * ingest rate; the watermark closes windows and evicts their state.
    * The same sketch the batch q_heavy_hitters runs, now with the
    * guarantee horizon scoped per window.
    */
  def hotTermsPerWindow(docs: DataFrame, k: Int = 8): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(new graft.functions.MisraGries(k))
    maybeWatermarkOn(docs, "ingest_ts")
      .select(col("ingest_ts"), explode(split(col("text"), " ")).as("w"))
      .groupBy(window(col("ingest_ts"), "1 hour"))
      .agg(mg(col("w")).as("hh"))
      .select(unix_micros(col("window.start")).as("window_us"),
        posexplode(arrays_zip(col("hh.items"), col("hh.ests"))).as(Seq("rank", "e")))
      .select(col("window_us"), col("rank"),
        col("e.items").as("word"), col("e.ests").as("est"))
  }

  /** Per-window Heaps point — ingested tokens vs distinct vocabulary
    * types per event-time hour, the streaming twin of q_heaps_law's
    * checkpoint curve (vocabulary growth V(n) ~ K·n^β watched live: a
    * window whose type count jumps OFF the fitted curve is a domain/
    * pipeline shift, the vocabulary face of q_drift_daily). Exact
    * distinct-per-window via CHAINED time-window aggregation (Spark 3.5+
    * multiple-stateful-operator support): the (window, token) count map
    * is the first state, the per-window reduction re-windows its window
    * column — no approximate sketch, so batch ≡ stream cell-for-cell.
    * State is vocab-per-window-bounded and the watermark evicts it.
    */
  def heapsPerWindow(docs: DataFrame): DataFrame =
    maybeWatermarkOn(docs, "ingest_ts")
      .select(col("ingest_ts"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(window(col("ingest_ts"), "1 hour"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(window(col("window"), "1 hour"))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
      .select(unix_micros(col("window.start")).as("window_us"),
        col("n_tokens"), col("n_types"))

  /** Per-window degree assortativity over an EDGE STREAM — the streaming
    * graph plane: Newman's degree Pearson (the q_degree_assortativity
    * batch twin) per event-time hour, watched live (a window whose mixing
    * coefficient flips sign is a structural shift in who links to whom —
    * e.g. boilerplate cliques appearing in an ingest feed). Input:
    * (ts, v, w) undirected edges.
    *
    * This is the streaming plane's first STREAM-STREAM-JOIN-FED chained
    * aggregate — four stateful operators deep (Spark 3.5+ multiple-
    * stateful-operator support): (1) the per-(window, v, w) edge-
    * multiplicity aggregate and (2) the per-(window, v) degree aggregate
    * are two windowed aggregations of the same watermarked feed; (3) ONE
    * window-equality stream-stream join of the two AGGREGATED streams
    * attaches the tail endpoint's degree x = deg(v) to each edge type;
    * (4+5) two chained re-windowed aggregates fold the moments. The
    * single-join shape is forced AND sufficient: forced, because a join
    * whose input is itself a join output is outside the supported
    * multiple-stateful-operator patterns (probed on this engine: the
    * second join emits nothing — its left side's rows only surface after
    * the watermark already passed their window), and sufficient because
    * the head-endpoint moments fold without a second join — grouping the
    * joined frame by (window, head w) gives cnt = Σm = deg(w) and
    * sumx = Σ m·deg(v), so Σxy = Σ_w deg(w)·sumx(w), Σy = Σ_w deg(w)²,
    * Σy² = Σ_w deg(w)³, all exact integers. Each stage keeps exactly ONE
    * event-time column (the right side's window copy drops at the join)
    * and every piece of state — the two aggregation maps, the join
    * buffers, the per-head partials — evicts when the watermark closes
    * its window. The only float step is the batch twin's fixed IEEE
    * sequence (num / sqrt(vx·vy), each factor cast int→double, then
    * round(6)) on exact integer moments, so batch ≡ stream cell-for-cell
    * (StreamingSpec asserts it on an out-of-order multi-trigger feed).
    */
  def assortativityPerWindow(edges: DataFrame): DataFrame = {
    val wm = maybeWatermarkOn(edges, "ts")
    val dir = wm
      .select(window(col("ts"), "1 hour").as("win"), col("v"), col("w"))
      .unionByName(wm.select(window(col("ts"), "1 hour").as("win"),
        col("w").as("v"), col("v").as("w")))
    val em = dir.groupBy(col("win"), col("v"), col("w"))
      .agg(count(lit(1)).as("m"))
    val deg = dir.groupBy(col("win"), col("v"))
      .agg(count(lit(1)).as("deg"))
    // window-equality join of two aggregated streams; the right side's
    // window copy must DROP at once — at most one event-time column may
    // flow into the next stateful operator
    val withX = em.join(
      deg.select(col("win").as("winx"), col("v").as("vx"), col("deg").as("x")),
      col("winx") === col("win") && col("vx") === col("v"))
      .drop("winx", "vx")
    // The cubic/product moment terms fold in DECIMAL(38,0), not Long:
    // a hub vertex with per-window degree ~2M would wrap cnt³ past 2⁶³
    // silently while the DuckDB batch oracle folds the same moments in
    // HUGEINT — the decimal fold keeps the two engines exact to degree
    // ~4.6e12 (cnt³ < 1e38) instead of ~2.1e6.
    val perHead = withX
      .groupBy(window(col("win"), "1 hour"), col("w"))
      .agg(sum("m").as("cnt"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * x")).as("sumx"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * x * x")).as("sumxx"))
    perHead
      .groupBy(window(col("window"), "1 hour"))
      .agg(sum("cnt").as("n_endpoints"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * sumx")).as("sxy"),
        sum("sumx").as("sx"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("sy"),
        sum("sumxx").as("sxx"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt")).as("syy"))
      .select(unix_micros(col("window.start")).as("window_us"),
        col("n_endpoints"),
        round(expr("CAST(n_endpoints * sxy - sx * sy AS DOUBLE)") /
          expr("nullif(sqrt(CAST(n_endpoints * sxx - sx * sx AS DOUBLE)" +
            " * CAST(n_endpoints * syy - sy * sy AS DOUBLE)), 0D)"), 6)
          .as("assortativity"))
  }

  private def maybeWatermarkOn(df: DataFrame, tsCol: String): DataFrame =
    if (df.isStreaming) df.withWatermark(tsCol, WatermarkDelay) else df

  /** A timestamp in epoch µs at full precision (getTime is ms; the sub-ms
    * part lives in the nanos) — the clock of the stateful operators below.
    */
  private def usOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Streaming geofence: grid-cell coarse filter + exact bbox over a
    * segment stream (endpoint coordinates) — the streaming face of the
    * R20 spatial index analog (ops.Spatial). Stateless per-row predicates:
    * no watermark, no state store, and on a cell-partitioned source the
    * same cell predicate prunes partitions. Batch ≡ stream by construction
    * (same Column expressions; StreamingSpec asserts it).
    */
  def geofence(segments: DataFrame,
      lonMin: Double, lonMax: Double, latMin: Double, latMax: Double): DataFrame =
    segments.filter(graft.ops.Spatial.bboxFilter(lonMin, lonMax, latMin, latMax))

  /** Tumbling 1-hour counts/sums — streaming twin of q_tumbling_hourly. */
  def tumblingHourly(events: DataFrame): DataFrame =
    maybeWatermark(events)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(graft.ops.Relational.cents(col("value"))).as("value_cents"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("n"),
        col("value_cents"))

  /** Stream-stream interval join: pair each left event with same-user
    * right-stream events from its preceding 5 minutes. Both sides carry
    * watermarks and the join condition bounds event time on both sides —
    * Spark's requirement for state cleanup in stream-stream joins: each
    * side's state store retains only rows inside watermark + interval, so
    * state is bounded no matter how long the streams run. The batch twin
    * (identical condition) is oracle-checked as q_interval_join_events.
    * Scale: one co-partitioned stateful shuffle of both streams on
    * user_id.
    *
    * `joinType` may be "left_outer": unmatched left rows emit null-padded
    * once the watermark passes their join window (the engine can only then
    * prove no match will arrive) — the streaming analog of the batch
    * twin's LEFT JOIN.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val l = maybeWatermark(left)
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"),
        col("user_id").as("l_user"))
    val r = maybeWatermark(right)
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user"))
    l.join(r,
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") - expr("INTERVAL 5 MINUTES") &&
          col("r_ts") < col("l_ts"),
        joinType)
      .select(col("l_id"), col("r_id"), col("l_user").as("user_id"),
        unix_micros(col("l_ts")).as("l_us"), unix_micros(col("r_ts")).as("r_us"))
  }

  /** Ingest-time NEAR-dup curation against a frozen dedup index
    * (ops.Dedup.clusterFrameOf, persisted once for the corpus): per
    * micro-batch, drop every incoming doc with a qualifying MinHash match
    * in the index. Runs through foreachBatch — the batch frame is a plain
    * DataFrame, so the band join + anti join are ordinary batch ops
    * re-planned per trigger (Spark's recommended shape for join forms the
    * streaming engine can't express statefully; the index side re-reads
    * per batch exactly like a stream-static join). Batch ≡ stream by
    * construction: the SAME Dedup.dropNearDups runs in both modes
    * (StreamingSpec asserts equality on a multi-batch MemoryStream feed).
    * State: none — the index is the state, and it is external.
    */
  def nearDupCuration(index: DataFrame, docs: DataFrame)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    startForeachBatch(docs) { (batch, _) =>
      write(graft.ops.Dedup.dropNearDups(index, batch))
    }

  /** The LIVE-INDEX retirement fold behind [[retireIngest]] — unlike the
    * frozen-index curation family above, here the index EVOLVES: each
    * arriving tombstone batch folds in via ops.Dedup.retireFrom
    * (member-list surgery only; the cluster arrays never recompute), and
    * the new index replaces the old behind a localCheckpoint barrier
    * (blocks live on executors — the state is corpus-proportional like
    * the frozen indexes, never driver-resident). Exactly-once under
    * trigger replay needs NO batch-id guard: retiring an already-absent
    * member is a set-difference no-op, so retireFrom is IDEMPOTENT on
    * re-delivered batches — StreamingSpec replays a trigger and asserts
    * the index is unchanged, and asserts after every trigger that the
    * live index canonically equals a full rebuild on the surviving
    * corpus (the QueriesSpec retire≡rebuild theorem, run live).
    *
    * DURABLE RECOVERY (opt-in `stateDir`): the index is executor-
    * resident and corpus-proportional, so its durable face is a
    * manifest-committed parquet SWAP of the whole post-retirement index
    * per trigger ([[FoldState]]) — the same bytes the in-memory
    * localCheckpoint swap already rewrites into executor blocks, now
    * landing once on storage instead. Restore reads the single latest
    * committed snapshot (one bounded listing + one parquet read of the
    * index, never the corpus text); a restarted query's re-delivery of
    * the last batch re-applies retireFrom (idempotent no-op) and skips
    * the already-committed persist. A durable fold requires real batch
    * ids (loud-fail otherwise).
    */
  private[graft] final class RetireFold(index0: DataFrame,
      write: DataFrame => Unit, stateDir: Option[String] = None) {
    private var restored = stateDir.isEmpty
    private var index = index0
    private var checkpointed = false

    private def ensureReady(spark: SparkSession): Unit = {
      if (!restored) {
        stateDir.foreach { dir =>
          FoldState.latest(spark, dir).foreach { case (_, st) =>
            index = spark.read.parquet(
              new org.apache.hadoop.fs.Path(st, "index").toString)
            checkpointed = true // parquet-backed; no executor copy needed
          }
        }
        restored = true
      }
      if (!checkpointed) { index = index.localCheckpoint(); checkpointed = true }
    }

    def current: DataFrame = { ensureReady(index0.sparkSession); index }

    def step(tombstones: DataFrame, batchId: Long = -1L): Unit = {
      require(batchId >= 0 || stateDir.isEmpty,
        "a durable RetireFold needs real batch ids")
      ensureReady(tombstones.sparkSession)
      index = graft.ops.Dedup.retireFrom(index, tombstones).localCheckpoint()
      stateDir.foreach { dir =>
        FoldState.commit(index.sparkSession, dir, batchId) { staging =>
          index.write.parquet(
            new org.apache.hadoop.fs.Path(staging, "index").toString)
        }
      }
      write(index)
    }
  }

  /** Streaming twin of q_dedup_retire's maintenance face: a tombstone
    * id stream (doc_id rows) folds into a live MinHash cluster index,
    * each trigger emitting the post-retirement index. foreachBatch for
    * the family's shared reason; replay-safe by idempotence, durable
    * under `stateDir` via a per-trigger manifest-committed index swap
    * (see [[RetireFold]]).
    */
  def retireIngest(index: DataFrame, tombstones: DataFrame,
      stateDir: Option[String] = None)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val fold = new RetireFold(index, write, stateDir)
    startForeachBatch(tombstones)(fold.step)
  }

  /** Ingest-time SEMANTIC dedup (streaming SemDeDup) against a frozen
    * cell index — the embedding-space twin of [[nearDupCuration]]: per
    * micro-batch, assign each incoming vector to its nearest frozen cell
    * and drop it iff a PERSISTED member of that cell sits within cosine
    * ≥ τ (Similarity.semDedupIngestFilter). foreachBatch for the same
    * reason as nearDupCuration: the per-trigger work is two ordinary
    * batch ops (narrow centroid assignment + cell-keyed join against the
    * external index) the streaming engine can't express statefully.
    * Batch ≡ stream by construction — decisions depend only on (vector,
    * frozen index), never on batch peers or arrival order (StreamingSpec
    * asserts equality on an out-of-order multi-trigger feed). State:
    * none — the index is the state, and it is external.
    */
  def semDedupIngest(index: DataFrame, cents: Array[Array[Double]],
      vecs: DataFrame)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    startForeachBatch(vecs) { (batch, _) =>
      write(graft.ops.Similarity.semDedupIngestFilter(index, cents, batch))
    }

  /** Ingest-time chunk-level NOVELTY scoring against a frozen chunk-hash
    * index — the content-defined-chunking twin of [[nearDupCuration]]:
    * per micro-batch, each incoming doc's CDC chunks join the external
    * index and the doc gets an exact permille novelty score (a re-upload
    * scores 0; a doc pasting an indexed half around fresh text scores
    * partially — the case whole-doc hashing misclassifies). foreachBatch
    * for the family's shared reason: the per-trigger work is ordinary
    * batch ops against external state. Batch ≡ stream by construction —
    * scores depend only on (doc, frozen index) (StreamingSpec asserts
    * equality across triggers). State: none — the index is external.
    */
  def chunkNoveltyIngest(index: DataFrame, docs: DataFrame)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    startForeachBatch(docs) { (batch, _) =>
      write(graft.ops.Dedup.chunkNovelty(index, batch))
    }

  /** Ingest-time boilerplate stripping against a FROZEN template index
    * (the q_boilerplate_strip streaming face, nearDupCuration's frozen-
    * index shape): each trigger's documents are chunked and stripped
    * against the persisted df ≥ BoilMinDf chunk set only — stateless per
    * trigger, so out-of-order or re-dealt feeds trivially reproduce the
    * batch strip (StreamingSpec asserts stream ≡ batch doc-for-doc).
    * Semantics note: a FROZEN index by construction cannot see template
    * chunks that first cross the df threshold ACROSS later batches —
    * that is the same freeze-vs-rebuild trade the MinHash ingest dedup
    * documents, and the periodic re-index is the same answer.
    */
  def boilerStripIngest(index: DataFrame, docs: DataFrame)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    startForeachBatch(docs) { (batch, _) =>
      write(graft.ops.Curation.stripAgainst(index, batch))
    }

  /** Event types the constraint monitor accepts — the fixture taxonomy;
    * production swaps in its own catalog literal.
    */
  final val KnownEventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Per-window CONSTRAINT MONITOR — the ops.Profile check catalog run as
    * a live data-quality feed: per event-time hour, row count plus
    * violation counts for each declared check (here: value missing or
    * below the valid floor; event_type outside the known taxonomy). Each
    * check is a stateless conditional sum inside ONE windowed aggregate —
    * the curation-filter pattern applied to data quality — so state is
    * O(open windows), watermark-evicted, and batch ≡ stream exactly
    * (integer counts, no floats anywhere). The batch twin is declared as
    * q_constraint_windowed (oracle-checked); StreamingSpec asserts the
    * stream equals it on an out-of-order multi-trigger feed.
    */
  def constraintMonitor(events: DataFrame): DataFrame =
    maybeWatermarkOn(events, "ts")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull || col("value") < 1.0, 1L)
          .otherwise(0L)).as("v_value_low"),
        sum(when(col("event_type").isNull ||
            !col("event_type").isInCollection(KnownEventTypes), 1L)
          .otherwise(0L)).as("v_unknown_type"))
      .select(unix_micros(col("window.start")).as("window_us"),
        col("n_rows"), col("v_value_low"), col("v_unknown_type"))

  /** The durable state of every stream fold ([[GridFold]] — and through
    * it [[ProfileFold]] and [[DriftFold]] — and [[RetireFold]]) on the one
    * manifest log ([[graft.ops.Sinks.Manifests]]): stage the state's
    * parquet components under `.staging-<id>`, rename to `state-<id>`,
    * then commit `<id>` in the log; strictly-older committed states are
    * garbage-collected AFTER the new commit, and restore takes the MAX
    * committed id — so a crash at any point leaves either the previous
    * committed state or the new one, never neither and never a
    * half-written directory (an uncommitted leftover of the same id from
    * a crashed attempt is cleared before re-staging).
    */
  private[graft] object FoldState {
    import org.apache.hadoop.fs.Path
    import graft.ops.Sinks.Manifests

    private def stateOf(dir: String, id: Long): Path = new Path(dir, f"state-$id%020d")

    /** Commit state `id`: `stage(stagingPath)` writes the component
      * parquet dirs under the staging root. Returns false (and writes
      * nothing) iff `id` is already committed, which makes persist
      * itself replay-idempotent.
      */
    def commit(spark: SparkSession, dir: String, id: Long)
        (stage: Path => Unit): Boolean = {
      val root = new Path(dir)
      val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val done = Manifests.commit(spark, dir, id) {
        val staging = new Path(root, s".staging-$id")
        val dest    = stateOf(dir, id)
        fs.delete(staging, true); fs.delete(dest, true) // crashed attempt
        stage(staging)
        Manifests.must(fs.rename(staging, dest),
          s"FoldState.commit($dir, $id): rename $staging -> $dest")
      }
      // GC strictly-older committed states (crash mid-GC is harmless:
      // restore takes the MAX committed id)
      if (done) Manifests.committed(spark, dir).filter(_ < id).foreach { old =>
        fs.delete(stateOf(dir, old), true)
        Manifests.drop(spark, dir, old)
      }
      done
    }

    /** The latest committed (id, state path), if any. */
    def latest(spark: SparkSession, dir: String): Option[(Long, Path)] =
      Manifests.committed(spark, dir).lastOption.map(id => (id, stateOf(dir, id)))
  }

  /** State-dir suffixes of the component folds: [[ProfileFold]]'s
    * register fold sits in `<stateDir>-regs` beside its count fold in
    * `<stateDir>`; [[DriftFold]]'s era fold is a whole ProfileFold under
    * `<stateDir>-era` beside its live fold.
    */
  private[graft] val RegsSuffix = "-regs"
  private[graft] val EraSuffix  = "-era"

  /** Replay-safe running-state fold for [[profileIngest]] — the
    * foreachBatch face of the mergeable profiler whose algebra
    * q_profile_incremental proves batch-side (counts ADD, min/max FOLD,
    * HLL registers MAX). It is two [[GridFold]]s over the two halves of
    * the bounded profile state (Profile.incrementalStates): `counts`
    * keyed on `cname`, `regs` keyed on `(cname, bucket)`. Each carries
    * the GridFold rule — a re-delivered batch id REPLACES its delta, so
    * the count components, which are NOT idempotent under a double fold,
    * fold exactly once — and, under `stateDir`, its durable commit
    * (`counts` in `stateDir`, `regs` in `stateDir` + [[RegsSuffix]]).
    *
    * The two commit one after the other, so a crash between them leaves
    * `counts` at batch N and `regs` at N−1. The restarted query
    * re-delivers N: `counts` replaces its restored N, `regs` seals N−1
    * and adds N, and the two agree again (StreamingSpec simulates that
    * window). The raw batches are never retained.
    */
  private[graft] final class ProfileFold(write: DataFrame => Unit,
      stateDir: Option[String] = None) {
    import graft.ops.Profile
    private def states(b: DataFrame) =
      Profile.incrementalStates(b.withColumn("half", lit(0L)))
    private[graft] val counts = new GridFold(Seq("cname"),
      Seq(sum("n").as("n"), sum("n_null").as("n_null"),
        min("mn_num").as("mn_num"), max("mx_num").as("mx_num"),
        min("mn_str").as("mn_str"), max("mx_str").as("mx_str")),
      b => states(b)._1.drop("half"), _ => (), stateDir)
    private[graft] val regs = new GridFold(Seq("cname", "bucket"),
      Seq(max("register").as("register")),
      b => states(b)._2.drop("half"), _ => (), stateDir.map(_ + RegsSuffix))

    def step(batch: DataFrame, batchId: Long): Unit = {
      counts.step(batch, batchId)
      regs.step(batch, batchId)
      current.foreach(st => write(Profile.finalizeProfile(st)))
    }

    /** The merged profile state of every batch so far. */
    private[graft] def current: Option[(DataFrame, DataFrame)] =
      for (c <- counts.current; r <- regs.current)
        yield Profile.mergeProfileStates((c, r))
  }

  /** The STREAMING DRIFT FEED's fold (q_profile_drift run live): a live
    * [[ProfileFold]] over every batch plus an era ProfileFold stepped only
    * while `batchId <= eraCut`. Each later trigger emits the drift rows of
    * the live state against the era fold's state
    * ([[graft.ops.Profile.driftStates]] — same integer-cross-multiplied
    * gate as the batch query, HLL distinct because exact distincts do not
    * merge); the base era emits nothing (no second era to diff yet). Both
    * sides are bounded fold state, so the feed costs O(columns · M) per
    * trigger whatever the stream length.
    *
    * The frozen era is the era fold's state, so it is replay-safe and,
    * under `stateDir` (live in `stateDir`, era in `stateDir` +
    * [[EraSuffix]]), durable like any GridFold: a restart after the cut
    * restores it without re-seeing the cut batch (StreamingSpec replays a
    * post-cut trigger, restarts with and without a replay, and crashes
    * between the era and live commits of the cut batch).
    */
  private[graft] final class DriftFold(eraCut: Long, write: DataFrame => Unit,
      stateDir: Option[String] = None) {
    private[graft] val era  = new ProfileFold(_ => (), stateDir.map(_ + EraSuffix))
    private[graft] val live = new ProfileFold(_ => (), stateDir)

    def step(batch: DataFrame, batchId: Long): Unit = {
      if (batchId <= eraCut) era.step(batch, batchId)
      live.step(batch, batchId)
      if (batchId > eraCut)
        for (before <- era.current; now <- live.current)
          write(graft.ops.Profile.driftStates(before, now))
    }
  }

  /** Streaming twin of the PROFILE DRIFT report (q_profile_drift): the
    * base era (batches ≤ eraCut) folds into its own profile state; every
    * later trigger emits (column, stat, before, after, drifted) rows of
    * the live mergeable profile against it — the yesterday-vs-now monitor
    * as a feed. foreachBatch for the family's shared reason; state is the
    * two bounded profile folds (durable under `stateDir`, era included;
    * see [[DriftFold]]).
    */
  def driftIngest(events: DataFrame, eraCut: Long,
      stateDir: Option[String] = None)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val fold = new DriftFold(eraCut, write, stateDir)
    startForeachBatch(events)(fold.step)
  }

  /** Streaming twin of the MERGEABLE PROFILER (q_profile_incremental):
    * per trigger, reduce the arriving micro-batch to its bounded profile
    * state (O(columns · M) rows whatever the batch size) and fold it into
    * the running state via [[ProfileFold]]; each trigger emits the
    * finalized whole-stream profile so far — a live data-profile feed
    * whose final row set equals the batch profiler over everything
    * ingested (StreamingSpec asserts equality on an out-of-order
    * multi-trigger feed INCLUDING a replayed trigger). foreachBatch for
    * the family's shared reason: the per-trigger work is ordinary batch
    * aggregation folded into external bounded state.
    */
  def profileIngest(events: DataFrame, stateDir: Option[String] = None)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val fold = new ProfileFold(write, stateDir)
    startForeachBatch(events)(fold.step)
  }

  /** Ingest-time PERCEPTUAL dedup against a frozen dHash code index — the
    * image-plane member of the [[nearDupCuration]] family: per
    * micro-batch, decode each incoming payload, dHash it, and score it
    * against the external index through the cross-frame sized-MIH join
    * (Multimodal.percIngestScore); a retouch of an indexed image scores
    * ≥ 1, fresh content 0. foreachBatch for the family's shared reason:
    * the per-trigger work is ordinary batch ops against external state.
    * Batch ≡ stream by construction — scores depend only on (image,
    * frozen index) (StreamingSpec asserts equality on an out-of-order
    * multi-trigger feed). State: none — the index is external.
    */
  def percIngest(indexCodes: DataFrame, nIndex: Long, media: DataFrame)
      (write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    startForeachBatch(media) { (batch, _) =>
      import batch.sparkSession.implicits._
      write(graft.ops.Multimodal.percIngestScore(indexCodes,
        batch.select("media_id", "kind", "payload")
          .as[graft.ops.Multimodal.RealMedia],
        nIndex))
    }

  /** Streaming twin of exact document dedup (q_dedup_docs_exact) for an
    * ingest pipeline: drop re-uploads whose CONTENT fingerprint was
    * already seen within the watermark. The fingerprint is xxhash64 of
    * the text — a genuine 64-bit space (expected silent collisions at
    * 100k docs/window ≈ 3e-10; PolyHash's ~30-bit output would lose real
    * documents at that rate) — so state is 8 honest bytes per distinct
    * doc inside the watermark horizon. Streaming keeps the first arrival
    * per fingerprint (ingest order IS the dedup semantic); the batch
    * fallback keeps min(doc_id) per fingerprint — the same deterministic
    * keeper rule as q_dedup_docs_exact, where dropDuplicates would keep
    * an arbitrary partition-order-dependent row. Expects (`doc_id`,
    * `text`, `ingest_ts`) columns.
    */
  def dedupDocsByFingerprint(docs: DataFrame): DataFrame = {
    // canonical text (the round-11 dedup default): a re-upload that
    // differs only in encoding/case/whitespace is the same document
    val fp = docs.withColumn("fp",
      xxhash64(graft.functions.TextNormExprs.normalize_text(col("text"))))
    if (fp.isStreaming)
      fp.withWatermark("ingest_ts", WatermarkDelay)
        .dropDuplicatesWithinWatermark("fp")
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      fp.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }
  }

  // ---- stream-stream as-of join --------------------------------------------

  case class AsOfIn(kind: Int, id: Long, key: Long, ts: Timestamp)
  case class TsId(us: Long, id: Long)
  case class AsOfBuf(lefts: Seq[TsId], rights: Seq[TsId])
  case class AsOfOut(user_id: Long, l_id: Long, l_us: Long,
      r_id: Option[Long], r_us: Option[Long])

  /** Stream-stream AS-OF join: for each left event, the LATEST right event
    * of the same key with r_ts <= l_ts (ties broken by larger id), null-
    * padded when no right precedes it — the streaming twin of the native
    * batch operator ([[graft.plans.AsOfJoin]] / q_asof_join_native), which
    * Spark's built-in stream-stream join cannot express (an interval join
    * needs a two-sided time bound; "latest before" has none on the right).
    *
    * Both inputs (columns `event_id`, `user_id`, `ts`) are watermarked and
    * co-shuffled once on the key into flatMapGroupsWithState. A left row
    * emits when the watermark passes its event time — only then has every
    * right with r_ts <= l_ts either arrived or been dropped as late (the
    * watermark completeness contract), so the emitted match is final and
    * output mode is Append. State per key is bounded by the same contract:
    * pending lefts above the watermark, rights at-or-above it, plus ONE
    * dominating right below it (for any future left, the latest right below
    * the watermark beats every older one — older rights are evicted each
    * trigger). An event-time timeout on the earliest pending left re-invokes
    * idle keys, so flushes never wait for new same-key data.
    *
    * Scale: one stateful hash exchange per side on the key; state is O(in-
    * flight window), not O(history); per-trigger work per key is a LINEAR
    * two-pointer merge over buffers kept sorted as a state invariant — new
    * arrivals are sorted once and merged in, so a hot key with thousands of
    * same-trigger events costs O(n log n), never the O(n²) of append-and-
    * rescan (StreamingSpec has the hot-key equivalence test).
    *
    * State floor: after a key goes idle, ONE dominating right per key is
    * retained indefinitely — it is the correct answer for any future left,
    * so on an unbounded key domain state grows O(distinct keys), ~24 bytes
    * each. That floor is inherent to as-of semantics (the match horizon is
    * unbounded below). For unbounded-key deployments pass `idleRightTtlMs`:
    * a key whose state is down to the single dominating right is dropped
    * once the watermark moves that far past it — any later left then gets a
    * null match instead of the expired right, the standard TTL tradeoff.
    */
  def asOfJoinStream(left: DataFrame, right: DataFrame,
      idleRightTtlMs: Option[Long] = None): Dataset[AsOfOut] = {
    val spark = left.sparkSession
    import spark.implicits._
    def prep(df: DataFrame, kind: Int) =
      maybeWatermark(df).select(lit(kind).as("kind"), col("event_id").as("id"),
        col("user_id").as("key"), col("ts"))
    // linear merge of two (us, id)-sorted runs — the state buffers hold the
    // sorted invariant across triggers, so no per-trigger full re-sort
    def mergeSorted(a: Seq[TsId], b: IndexedSeq[TsId]): Seq[TsId] =
      if (b.isEmpty) a
      else if (a.isEmpty) b
      else {
        val out = new scala.collection.mutable.ArrayBuffer[TsId](a.length + b.length)
        val ai = a.iterator.buffered; val bi = b.iterator.buffered
        while (ai.hasNext && bi.hasNext) {
          val x = ai.head; val y = bi.head
          if (x.us < y.us || (x.us == y.us && x.id <= y.id)) out += ai.next()
          else out += bi.next()
        }
        out ++= ai; out ++= bi
        out.toSeq
      }
    prep(left, 0).unionByName(prep(right, 1)).as[AsOfIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfBuf, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[AsOfIn], state: GroupState[AsOfBuf]) =>
          val st = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          val newL = scala.collection.mutable.ArrayBuffer.empty[TsId]
          val newR = scala.collection.mutable.ArrayBuffer.empty[TsId]
          it.foreach { e =>
            val rec = TsId(usOf(e.ts), e.id)
            if (e.kind == 0) newL += rec else newR += rec
          }
          val byTs: TsId => (Long, Long) = t => (t.us, t.id)
          val lefts  = mergeSorted(st.lefts,  newL.sortInPlaceBy(byTs).toIndexedSeq)
          val rights = mergeSorted(st.rights, newR.sortInPlaceBy(byTs).toIndexedSeq)
          // batch mode has no watermark clock (GroupState throws) — treat
          // it as +infinity: every left is final, the whole as-of join
          // resolves in the single invocation, keeping the documented
          // batch/stream duality of this object
          val (wmMs, hasWm) =
            try ((state.getCurrentWatermarkMs(), true))
            catch { case _: UnsupportedOperationException => (Long.MaxValue, false) }
          // emittable once the watermark passes the left's event time (ms
          // floor: the watermark clock is milliseconds); partition keeps
          // both halves sorted
          val (ready, pending) = lefts.partition(_.us / 1000 < wmMs)
          // two-pointer: both runs ascend, so each right is visited once
          // total — `last` ends on the latest right with us <= l.us, and
          // the (us, id) sort order breaks ts ties toward the larger id
          val rs = rights.toIndexedSeq
          var j = 0
          var last: TsId = null
          val out = ready.map { l =>
            while (j < rs.length && rs(j).us <= l.us) { last = rs(j); j += 1 }
            val m = Option(last)
            AsOfOut(key, l.id, l.us, m.map(_.id), m.map(_.us))
          }
          val (below, atOrAbove) = rs.partition(_.us / 1000 < wmMs)
          val kept = below.takeRight(1) ++ atOrAbove
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else if (state.hasTimedOut && pending.isEmpty && atOrAbove.isEmpty &&
              idleRightTtlMs.exists(ttl =>
                below.lastOption.exists(_.us / 1000 + ttl <= wmMs))) {
            // idle-key TTL: only the dominating right remains and the
            // watermark has moved ttl past it — reclaim the state floor
            state.remove()
          } else {
            state.update(AsOfBuf(pending, kept))
            // re-invoke the key while ANYTHING is still watermark-bounded:
            // pending lefts (to flush them) or at-or-above rights (so a
            // key whose lefts stop arriving still compacts its rights down
            // to the single dominating one as the watermark advances —
            // without this, idle right-heavy keys retain state forever)
            val next = (pending.iterator ++ atOrAbove.iterator).map(_.us / 1000)
            if (hasWm && next.nonEmpty)
              state.setTimeoutTimestamp(math.max(wmMs + 1, next.min + 1))
            else if (hasWm && idleRightTtlMs.nonEmpty && below.nonEmpty)
              // nothing pending: schedule the TTL wake-up for the floor row
              state.setTimeoutTimestamp(
                math.max(wmMs + 1, below.last.us / 1000 + idleRightTtlMs.get))
          }
          out.iterator
      }
  }

  // ---- arbitrary stateful processing --------------------------------------

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class SessionState(startUs: Long, lastUs: Long, n: Int)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n: Int)

  final val SessionGapUs: Long = 30L * 60 * 1000000

  /** Gaps-and-islands sessionizer with explicit state: emits a session when
    * a same-user event arrives more than 30 minutes after the previous one
    * (the still-open final session stays in state). Mirrors q_sessionize
    * minus each user's trailing open session.
    */
  def sessionizeStateful(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st  = state.getOption.orNull
          // events within a micro-batch arrive unordered: sort by event time
          it.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).foreach { e =>
            val us = usOf(e.ts)
            st match {
              case null =>
                st = SessionState(us, us, 1)
              case s if us - s.lastUs > SessionGapUs =>
                out += SessionOut(userId, s.startUs, s.lastUs, s.n)
                st = SessionState(us, us, 1)
              case s =>
                st = SessionState(s.startUs, math.max(s.lastUs, us), s.n + 1)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class CdcState(us: Long, eventId: Long, isDelete: Boolean,
      payloadType: String, valueCents: Long)
  case class CdcUpdate(user_id: Long, ts_us: Long, event_id: Long,
      op: String, payload_type: String, value_cents: Long)

  /** ONE replay-safe durable fold for every keyed-grid sketch, and the
    * only (base, last) fold of the engine — the profile and drift folds
    * compose it. A re-delivered batch id REPLACES its per-batch delta, so
    * values fold exactly once whatever the delivery order or replay. The
    * fold is generic over the grid key and the `merge` aggregates: `sum`
    * for count/cents grids, `max` for HLL registers (max needs no replay
    * protection, but riding the same protocol costs nothing and keeps ONE
    * durability story), the six profile aggregates for
    * [[ProfileFold]]'s counts. `base` compacts every sealed batch into
    * one bounded grid, `last` holds the open batch's delta; both are
    * sketch-sized, never corpus-sized. DURABLE under `stateDir` via the
    * shared [[FoldState]] manifest (marker makes a replayed persist a
    * no-op); StreamingSpec replays a trigger, restarts each concrete
    * fold mid-stream, and replays across the restart, then checks GC
    * left exactly one committed state. A fold over an existing
    * `stateDir` restores before its first step or its first `current`,
    * whichever comes first.
    *
    * DURABILITY COST CONTRACT: [[persist]] rewrites the ENTIRE
    * (base, last) grid — coalesce(1) — every trigger, an O(state)
    * durable write. That is the design point for sketch-/grid-sized
    * state (≤ k counters, ≤ maxWindows × cells, 64 HLL registers: a few
    * KB per trigger), and every shipped fold is capped there. An
    * UNCAPPED delta (a BoilerFold without `sketchK` accumulates
    * distinct-chunk-keyed state — measured 191k rows at ×5) would pay
    * that full rewrite per trigger: durable + uncapped is a NON-SHIPPING
    * combination — always pass the compaction cap (`sketchK` /
    * `maxWindows` / mgCompact) alongside `stateDir`. A delta-aware
    * persist (the batch-id marker already gives the commit point) is
    * the upgrade path if an uncapped durable fold is ever needed.
    */
  private[graft] final class GridFold(
      keyCols: Seq[String], merge: Seq[Column],
      delta: DataFrame => DataFrame, write: DataFrame => Unit,
      stateDir: Option[String] = None,
      compact: DataFrame => DataFrame = identity) {
    private var base: Option[DataFrame] = None
    private var last: Option[(Long, DataFrame)] = None
    private var restored = stateDir.isEmpty
    private def add(a: DataFrame, b: DataFrame): DataFrame =
      compact(a.unionByName(b).groupBy(keyCols.map(col): _*)
        .agg(merge.head, merge.tail: _*))

    private def ensureRestored(spark: SparkSession): Unit =
      if (!restored) { restore(spark); restored = true }

    def step(batch: DataFrame, batchId: Long): Unit = {
      require(batchId >= 0 || stateDir.isEmpty,
        "a durable GridFold needs real batch ids")
      ensureRestored(batch.sparkSession)
      val st = compact(delta(batch)).localCheckpoint()
      last match {
        case Some((id, prev)) if id != batchId =>
          base = Some(base.map(b => add(b, prev).localCheckpoint())
            .getOrElse(prev))
        case _ => () // same id re-delivered: replace, never double-count
      }
      last = Some((batchId, st))
      current.foreach(write)
      stateDir.foreach(persist(_, batchId, st))
    }

    /** The folded grid (sealed base + open batch). */
    private[graft] def current: Option[DataFrame] = {
      ensureRestored(SparkSession.active)
      (base, last) match {
        case (Some(b), Some((_, l))) => Some(add(b, l))
        case (b, l)                  => l.map(_._2).orElse(b)
      }
    }

    private def persist(dir: String, id: Long, st: DataFrame): Unit = {
      import org.apache.hadoop.fs.Path
      val spark = st.sparkSession
      def tag(f: DataFrame, c: String) = f.withColumn("component", lit(c))
      FoldState.commit(spark, dir, id) { staging =>
        tag(base.getOrElse(st.limit(0)), "base").unionByName(tag(st, "last"))
          .coalesce(1).write.parquet(new Path(staging, "grid").toString)
      }
    }

    private def restore(spark: SparkSession): Unit = stateDir.foreach { dir =>
      import org.apache.hadoop.fs.Path
      FoldState.latest(spark, dir).foreach { case (id, stPath) =>
        val h = spark.read.parquet(new Path(stPath, "grid").toString)
        def part(c: String) = h.filter(col("component") === c)
          .drop("component").localCheckpoint()
        val b = part("base")
        base = if (b.isEmpty) None else Some(b)
        last = Some((id, part("last")))
      }
    }
  }

  /** Misra–Gries compaction of an additive grid to ≤ k rows — the
    * q_heavy_hitters kernel (functions/HeavyHitters) as a [[GridFold]]
    * `compact` hook, merge rule from Agarwal et al., "Mergeable
    * Summaries" (PODS 2012): rank counters by estimate, subtract the
    * (k+1)-th largest from every counter, drop non-positives. At most k
    * entries strictly exceed the cut, so the grid is provably back
    * within k rows; every surviving estimate stays ≤ its true count,
    * and the total mass subtracted over a stream of n hits is ≤
    * n/(k+1) — so a ≥-threshold gate downstream (BoilMinDf, heavy-
    * hitter floors) can trip LATE but never falsely, and any key whose
    * true count exceeds n/(k+1) is guaranteed present. The single-
    * partition window is safe here: compaction only ever sees
    * sketch-plus-one-trigger-sized frames, never the corpus.
    */
  private[graft] def mgCompact(keyCols: Seq[String], valCol: String,
      k: Int)(g: DataFrame): DataFrame =
    mgCompactBy(Seq.empty, keyCols, valCol, k)(g)

  /** [[mgCompact]] applied independently WITHIN each `partCols` group —
    * e.g. one k-counter Misra–Gries summary per tumbling window. The
    * rank window partitions by the group, so no global single-partition
    * sort occurs when groups exist; the per-group cut is the group's
    * (k+1)-th largest counter, same merge rule and guarantees.
    */
  private[graft] def mgCompactBy(partCols: Seq[String], keyCols: Seq[String],
      valCol: String, k: Int)(g: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(col(valCol).desc +: keyCols.map(col(_).asc): _*)
    val ranked = g.withColumn("_rn", row_number().over(w))
    val cut =
      if (partCols.isEmpty)
        ranked.agg(coalesce(
          max(when(col("_rn") > k, col(valCol))), lit(0L)).as("_cut"))
      else
        ranked.groupBy(partCols.map(col): _*)
          .agg(coalesce(
            max(when(col("_rn") > k, col(valCol))), lit(0L)).as("_cut"))
    val cutJoined =
      if (partCols.isEmpty) ranked.crossJoin(broadcast(cut))
      else ranked.join(broadcast(cut), partCols)
    cutJoined
      .withColumn(valCol, col(valCol) - col("_cut"))
      .filter(col(valCol) > 0)
      .drop("_rn", "_cut")
  }

  /** Window-retention compaction for window-keyed grids: keep the
    * `maxWindows` NEWEST `window_us` values, drop older windows' cells.
    * The fold cannot know the source's lateness, so retention is the
    * caller's lateness budget — a window dropped here that later
    * receives a straggler is gone for good (the same trade a watermark
    * makes); size `maxWindows` beyond the expected disorder. One filter
    * on the window-keyed state.
    */
  private[graft] def windowRetention(maxWindows: Int)
      (g: DataFrame): DataFrame = {
    val keep = g.select("window_us").distinct()
      .orderBy(col("window_us").desc).limit(maxWindows)
    g.join(broadcast(keep), Seq("window_us"))
  }

  /** Streaming face of q_drift_daily: the (day, event_type) count grid
    * folded per trigger — the incremental-maintenance shape of the CDC/MV
    * family; the drift table is a VIEW over the grid via
    * [[graft.ops.Advanced.driftFromCounts]], shared Column-for-Column with
    * the oracle-checked batch query. Late and out-of-order events are
    * merely additive — counts are order-free — so no watermark is needed
    * and the grid converges to the batch grid whatever the trigger
    * layout. State is the day×type grid: bounded by taxonomy × retention,
    * not by stream volume.
    */
  private[graft] def dayTypeFold(write: DataFrame => Unit,
      stateDir: Option[String] = None): GridFold =
    new GridFold(Seq("d", "event_type"), Seq(sum("n").as("n")),
      b => b.groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      write, stateDir)

  /** Streaming face of the histogram-quantile sketch (q_hist_quantiles):
    * each trigger's events fold into the equi-width cents histogram —
    * additive merge over a FROZEN (lo, width) geometry (a deployment pins
    * it from a calibration pass; the batch query derives it from the
    * data, which a stream cannot). Out-of-range values are NOT clamped:
    * they land in honest underflow/overflow bucket ids (< 0 / ≥
    * HqBuckets) that still merge additively and surface as diagnostics
    * instead of silently fattening the edge brackets. Late and
    * out-of-order arrivals converge to the batch grid; a replayed trigger
    * replaces its delta instead of double-counting. Quantile brackets are
    * a VIEW over the ≤HqBuckets-row grid.
    */
  private[graft] def histFold(lo: Long, width: Long,
      write: DataFrame => Unit, stateDir: Option[String] = None): GridFold =
    new GridFold(Seq("bucket_idx"), Seq(sum("cnt").as("cnt")),
      b => graft.ops.Sketches.centsHist(
        b.select(graft.ops.Relational.cents(col("value")).as("cents")),
        lo, width),
      write, stateDir)

  /** Streaming face of the EWMA baseline (q_ewma_daily): the (event_type,
    * day, cents) grid folded additively, with the EWMA trajectory a VIEW
    * over the bounded grid via the shared batch kernel
    * ([[graft.ops.Advanced.ewmaFromDaily]]). Late or out-of-order cents
    * are additive, so the grid converges to the batch grid whatever the
    * trigger layout; the O(days²)-of-grid-rows re-fold per read is the
    * price of a trunc-div recurrence with no closed form (q_ewma_daily's
    * design note) and touches no corpus-sized state.
    */
  private[graft] def dailyCentsFold(write: DataFrame => Unit,
      stateDir: Option[String] = None): GridFold =
    new GridFold(Seq("event_type", "d"), Seq(sum("cents").as("cents")),
      b => b.groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(sum(graft.ops.Relational.cents(col("value"))).as("cents")),
      write, stateDir)

  /** Streaming face of the HLL sketch (q_hll_registers): each trigger's
    * registers fold into the (group, bucket) register grid by MAX — max
    * is idempotent AND commutative, so late, out-of-order and even
    * REPLAYED events cannot corrupt the sketch on their own; what the
    * GridFold adds is the committed restart story. No watermark; state is
    * groups × 64 registers, independent of stream volume. Batch ≡ stream
    * via the shared register builder
    * [[graft.ops.Sketches.hllRegistersFrom]].
    */
  private[graft] def hllFold(write: DataFrame => Unit,
      stateDir: Option[String] = None): GridFold =
    new GridFold(Seq("event_type", "bucket"), Seq(max("register").as("register")),
      b => graft.ops.Sketches.hllRegistersFrom(b), write, stateDir)

  /** Durable fold for the windowed COUNT-MIN grid — [[cmsGridPerWindow]]
    * run per batch and folded additively per (window, j, b) cell. By
    * default this face holds ALL windows (no watermark eviction — the
    * fold cannot know the source's lateness), which grows without bound
    * on an unbounded stream; pass `maxWindows` to enforce a retention
    * cap at fold time ([[windowRetention]]: the newest `maxWindows`
    * windows survive, bounding state at maxWindows × CountMin.D × CountMin.W
    * cells).
    */
  private[graft] def cmsFold(write: DataFrame => Unit,
      stateDir: Option[String] = None,
      maxWindows: Option[Int] = None): GridFold =
    new GridFold(Seq("window_us", "j", "b"), Seq(sum("cnt").as("cnt")),
      b => cmsGridPerWindow(b), write, stateDir,
      maxWindows.fold(identity[DataFrame] _)(windowRetention))

  /** Durable HOT-TERMS-PER-WINDOW fold — the q_heavy_hitters Misra–Gries
    * summary maintained per tumbling window on the [[GridFold]] protocol:
    * additive (window, token) counts, compacted at every merge to ≤ k MG
    * counters WITHIN each window ([[mgCompactBy]] — the per-group merge
    * rule, so each window carries its own n_w/(k+1) guarantee), with
    * optional newest-`maxWindows` retention. Composed state is bounded
    * at ≤ maxWindows × k rows no matter the vocabulary or stream length
    * — the fully-bounded form of [[hotTermsPerWindow]]'s state-store
    * face, durable/replay-safe like every GridFold. StreamingSpec gates
    * the MG guarantees per window against exact batch counts, the
    * composed state bound, retention, and replay.
    */
  private[graft] def hotTermsFold(k: Int, write: DataFrame => Unit,
      stateDir: Option[String] = None,
      maxWindows: Option[Int] = None): GridFold = {
    val mg = mgCompactBy(Seq("window_us"), Seq("tok"), "cnt", k) _
    val compact: DataFrame => DataFrame =
      maxWindows.fold(mg)(n => g => mg(windowRetention(n)(g)))
    new GridFold(Seq("window_us", "tok"), Seq(sum("cnt").as("cnt")),
      b => maybeWatermarkOn(b, "ingest_ts")
        .select(col("ingest_ts"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(window(col("ingest_ts"), "1 hour"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("tok"), col("cnt")),
      write, stateDir, compact)
  }

  /** Starts `src` as an append-mode foreachBatch query that hands each
    * micro-batch and its batch id to `step` — the one starter every
    * foreachBatch face in this object runs through.
    */
  private def startForeachBatch(src: DataFrame)(step: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    src.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        step(batch.toDF(), id)
      }.start()

  /** q_embed_drift as a LIVE feed: the model (μ, v₁) and grid (lo,
    * width) are FROZEN literals from the baseline era (the [[histFold]]
    * deployment story), `before` is that era's bucket grid; each
    * trigger's vectors score through the narrow frozen-axis projection,
    * fold into the after-era grid (replay-safe [[GridFold]], durable
    * under `stateDir`), and the emitted report is the shared
    * [[graft.ops.Clustering]].embedDriftReport kernel — so batch ≡
    * stream by construction once the feed drains (StreamingSpec drives
    * replay + restart and compares against the batch kernel).
    */
  private[graft] def embedDriftFold(mu: Array[Long], v1: Array[Long],
      lo: Long, width: Long, before: DataFrame,
      write: DataFrame => Unit, stateDir: Option[String] = None): GridFold =
    new GridFold(Seq("bucket_idx"), Seq(sum("cnt").as("cnt")),
      b => graft.ops.Clustering.pcScoreHist(
        b.select(graft.ops.Clustering.pcScoreCol(mu, v1).as("pc1")),
        lo, width),
      grid => write(graft.ops.Clustering.embedDriftReport(before, grid)),
      stateDir)

  /** The drift-ALERT stream — [[embedDriftFold]] with each trigger's
    * report gated through the q_drift_alerts noise floor
    * ([[graft.ops.Clustering]].embedDriftAlerts: drifted AND ≥
    * MinAlertPpm of either era's mass) before it reaches the sink, so
    * only pages flow out; feed the emitted report to
    * [[graft.ops.Clustering]].embedDriftHealth and its `needsRebuild`
    * closes the loop to the persisted-index retrain on the embedding
    * plane. Batch ≡ stream by construction —
    * same kernels over the same folded grid (StreamingSpec drives a
    * replayed trigger and the same-distribution specificity case).
    */
  private[graft] def embedDriftAlertFold(mu: Array[Long], v1: Array[Long],
      lo: Long, width: Long, before: DataFrame,
      write: DataFrame => Unit, stateDir: Option[String] = None): GridFold =
    embedDriftFold(mu, v1, lo, width, before,
      rep => write(graft.ops.Clustering.embedDriftAlerts(rep)), stateDir)

  /** Companion state-dir suffixes for [[BoilerFold]]'s tripwire folds.
    * The HLL suffix is VERSIONED: it names the register SCHEME, not just
    * the fold — hllRegistersOf moved from raw ranks (RankCap 25) to
    * mix31 ranks (MixRankCap 26) registers, and max-merging registers from
    * two schemes would quietly inflate the estimate (~2×, disarming the
    * 1.5× re-ingest gate). A scheme change bumps the suffix, so an
    * old-scheme state restores as ABSENT and the pre-upgrade migration
    * path (populated dfs + missing companion → tripwire
    * backfill-disables, re-arms next restart) handles it instead of a
    * silent cross-scheme merge. The orphaned old dir is inert.
    */
  private[graft] val DocSumSuffix = "-docsum"
  private[graft] val DocHllSuffix = "-dochll-mix31"

  /** [[boilerStripIngest]] with the frozen index's DECAY measured as it
    * serves: each trigger strips against the frozen template set (the
    * stateless face, unchanged semantics), while a replay-safe fold
    * accumulates the post-freeze chunk document-frequencies — the state
    * the miss class lives in: a template whose df first crosses
    * BoilMinDf ACROSS batches is invisible to the frozen index but
    * visible to this fold. [[health]] anti-joins the accumulated dfs
    * against the frozen set ([[graft.ops.Curation]].boilerHealth) and
    * `needsRebuild` trips the explicit re-index (boilerChunksOf on the
    * full corpus) — the health-gated rebuild on the template plane;
    * StreamingSpec drives a cross-batch template through the gap, fires
    * the trigger, and proves post-rebuild stripping equals the
    * full-corpus q_boilerplate_strip.
    *
    * State is (base, last) chunk-df frames under the GridFold batch-id-
    * replacement protocol (a re-delivered trigger REPLACES its delta, so
    * dfs accumulate exactly once), durable under `stateDir` via the
    * shared [[FoldState]] manifest. Scale: the EXACT state is
    * distinct-chunk-keyed — the q_chunk_dedup shuffle budget, unbounded
    * on an unbounded stream; pass `sketchK` to cap it with the
    * Misra–Gries heavy-hitter compaction ([[mgCompact]], the
    * q_heavy_hitters kernel) — only chunks that can reach [[graft.ops
    * .Curation.BoilMinDf]] matter to the gate, MG guarantees every
    * chunk with true df > n/(k+1) survives with estimate ≤ true, so the
    * sketched gate can trip LATE (by the n/(k+1) envelope) but never
    * falsely; size k ≫ n/BoilMinDf for a tight gate.
    *
    * `chunkDfOf` sums per-batch distinct-doc counts, which equals the
    * corpus df only under the append-ingest contract (each document in
    * exactly ONE batch). [[docReingestSuspected]] is the O(1)-state
    * tripwire for gross violations: the exact Σ per-batch distinct-doc
    * count folds additively alongside an HLL register vector over the
    * doc ids themselves; re-ingested mass ≳ half the distinct docs
    * pushes the sum past the HLL estimate's ±13% (m=64) envelope
    * (factor 1.5 gate). Per-doc accidental duplicates below that stay
    * invisible — this is a contract tripwire, not an exact audit.
    */
  private[graft] final class BoilerFold(index: DataFrame,
      write: DataFrame => Unit, stateDir: Option[String] = None,
      sketchK: Option[Int] = None) {
    private val dfs = new GridFold(Seq("chunk"), Seq(sum("ndocs").as("ndocs")),
      b => graft.ops.Curation.chunkDfOf(b), _ => (), stateDir,
      sketchK.fold(identity[DataFrame] _)(
        k => mgCompact(Seq("chunk"), "ndocs", k)))
    private val docSum = new GridFold(Seq("k"), Seq(sum("n").as("n")),
      b => b.agg(countDistinct("doc_id").as("n"))
        .select(lit(0).as("k"), col("n")),
      _ => (), stateDir.map(_ + DocSumSuffix))
    private val docHll = new GridFold(Seq("bucket"),
      Seq(max("register").as("register")),
      b => graft.ops.Sketches.hllRegistersOf(b, "doc_id"), _ => (),
      stateDir.map(_ + DocHllSuffix))

    /** True when this fold restored a PRE-UPGRADE state: the dfs state
      * dir is populated but a companion ('-docsum'/'-dochll') dir is
      * not — the tripwire would then compare a post-upgrade PARTIAL doc
      * sum against a partial HLL while dfs is fully restored: quiet but
      * meaningless against the restored dfs history.
      * [[docReingestSuspected]] backfill-disables itself (returns false,
      * the honest answer for an unobserved prefix) for the life of this
      * fold. The companions still accrue from the upgrade point, so a
      * restart restores a mutually consistent (docsum, dochll) pair and
      * re-arms the tripwire — covering the post-upgrade suffix only;
      * re-ingests of pre-upgrade docs stay invisible (the migration
      * caveat — start a fresh stateDir to get full-history coverage).
      * Checked once, before the first step persists anything.
      */
    @volatile private[graft] var tripwireDisabled = false
    private var migrationChecked = stateDir.isEmpty

    def step(batch: DataFrame, batchId: Long): Unit = {
      require(batchId >= 0 || stateDir.isEmpty,
        "a durable BoilerFold needs real batch ids")
      if (!migrationChecked) {
        val s = batch.sparkSession
        val dir = stateDir.get
        tripwireDisabled = FoldState.latest(s, dir).isDefined &&
          (FoldState.latest(s, dir + DocSumSuffix).isEmpty ||
            FoldState.latest(s, dir + DocHllSuffix).isEmpty)
        migrationChecked = true
      }
      write(graft.ops.Curation.stripAgainst(index, batch))
      dfs.step(batch, batchId)
      docSum.step(batch, batchId)
      docHll.step(batch, batchId)
    }

    /** Accumulated post-freeze chunk dfs (base + open batch). */
    private[graft] def seen: Option[DataFrame] = dfs.current

    /** True when Σ per-batch distinct-doc counts exceeds the HLL
      * distinct-doc estimate by more than the sketch's error envelope —
      * the append-ingest contract is being violated and the accumulated
      * chunk dfs may be double-counted (see class doc for the margin).
      */
    def docReingestSuspected: Boolean =
      if (tripwireDisabled) false
      else (docSum.current, docHll.current) match {
        case (Some(s), Some(h)) =>
          val n = s.select("n").head().getLong(0)
          val est = graft.ops.Sketches.estimate(
            h.select("register").collect().map(_.getInt(0)).toSeq)
          n.toDouble > est * 1.5
        case _ => false
      }

    def health: graft.ops.Curation.BoilerHealth = {
      val s = seen.getOrElse(index.sparkSession.createDataFrame(
        index.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "chunk STRING, ndocs BIGINT")))
      graft.ops.Curation.boilerHealth(index, s)
    }
  }

  /** [[boilerStripIngest]] + the decay fold as one live feed; the
    * returned fold exposes [[BoilerFold.health]] for the rebuild gate.
    * `sketchK` bounds the accumulated chunk-df state to ≤ k rows via
    * the Misra–Gries compaction (the [[BoilerFold]] scale story).
    */
  def boilerStripIngestTracked(index: DataFrame, docs: DataFrame,
      stateDir: Option[String] = None, sketchK: Option[Int] = None)
      (write: DataFrame => Unit): (org.apache.spark.sql.streaming.StreamingQuery, BoilerFold) = {
    val fold = new BoilerFold(index, write, stateDir, sketchK)
    val q = startForeachBatch(docs)(fold.step)
    (q, fold)
  }

  /** Streaming face of Lakehouse.snapshot (q_cdc_snapshot): maintain the
    * LWW CDC snapshot incrementally, ONE state row per key (the ~40-byte
    * current winner). Emits an update row only for keys whose winner
    * changed this trigger — an upsert ('U') carrying the new snapshot row,
    * or a tombstone ('D') when a delete wins — so downstream applies a
    * compact update changelog keyed by user_id. No watermark: LWW compares
    * (ts, event_id) BY VALUE, so late and out-of-order arrivals resolve
    * correctly without event-time bookkeeping, and state never grows past
    * the distinct-key count (the same O(keys) floor as the as-of join's
    * dominating right; bound it with snapshot-table partitioning at scale).
    * Batch ≡ stream asserted in StreamingSpec: the last emitted update per
    * key, tombstones dropped, equals the batch snapshot of the same log
    * fed multi-trigger and out of order.
    */
  def cdcSnapshotStream(events: Dataset[Event]): Dataset[CdcUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[CdcState]) =>
          val prev = state.getOption.orNull
          var best = prev
          it.foreach { e =>
            val us = usOf(e.ts)
            if (best == null || us > best.us ||
                (us == best.us && e.event_id > best.eventId))
              best = CdcState(us, e.event_id, e.event_type == "error",
                e.event_type, math.round(e.value * 100))
          }
          if (best eq prev) Iterator.empty
          else {
            state.update(best)
            Iterator.single(CdcUpdate(userId, best.us, best.eventId,
              if (best.isDelete) "D" else "U", best.payloadType,
              best.valueCents))
          }
      }
  }
}
