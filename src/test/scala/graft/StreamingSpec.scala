package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Streaming semantics via MemoryStream: batch-vs-stream equivalence,
  * watermark late-data drops, stateful sessionization (SURVEY §5.2.4).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  /** Feed two genuinely separate micro-batches: start the query, drain
    * batch 1, then add batch 2 — so the watermark advances BETWEEN batches
    * (both addData calls before start() would coalesce into one batch).
    */
  private def runTwoBatches(df: DataFrame, name: String, mode: String,
      ms: MemoryStream[Event], a: Seq[Event], b: Seq[Event]): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    ms.addData(a)
    q.processAllAvailable()
    ms.addData(b)
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def loadEvents: Seq[Event] =
    Tables.events(spark, sfDir).as[Event].collect().toSeq.sortBy(_.event_id)

  test("streaming tumbling hourly (complete mode) equals the batch twin") {
    val events = loadEvents
    val ms     = MemoryStream[Event](spark)
    val (a, b) = events.splitAt(events.size / 2)
    val got = runTwoBatches(Streams.tumblingHourly(ms.toDF()), "tumbling_complete",
      "complete", ms, a, b)
    val want = Streams.tumblingHourly(Tables.events(spark, sfDir))
    assert(got.count() === want.count())
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("append mode with watermark drops data later than the delay") {
    val ms = MemoryStream[Event](spark)
    def ev(id: Long, min: Long) = Event(id, ts(min), 1L, "x", 1.0, "{}")
    // batch 1: events at minute 5 and 75 → watermark = 75 - 10 = 65, which
    // is past the END of the hour-0 window [0, 60)
    ms.addData(ev(1, 5), ev(2, 75))
    val q = Streams.tumblingHourly(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("late_drop").start()
    q.processAllAvailable()
    // batch 2: a late event at minute 10 — its window [0, 60) closed at
    // watermark 65 → the row must be DROPPED, and hour-0 finalizes with
    // only the on-time event
    ms.addData(ev(3, 10))
    q.processAllAvailable()
    // advance watermark far enough to finalize every window
    ms.addData(ev(4, 300))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_drop").orderBy("hour_us").collect()
    val hour0 = rows.find(_.getLong(0) === 0L)
    assert(hour0.isDefined, "hour-0 window never finalized")
    assert(hour0.get.getLong(1) === 1L,
      s"late event leaked into finalized window: ${rows.mkString(",")}")
  }

  test("stateful sessionizer matches batch sessionize minus open tail sessions") {
    val events = loadEvents
    val ms     = MemoryStream[Event](spark)
    val (a, b) = events.splitAt(events.size / 2)
    // two real micro-batches: state must carry sessions across the boundary
    val got = runTwoBatches(Streams.sessionizeStateful(ms.toDS()).toDF(),
      "sessions_stateful", "append", ms, a, b)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n").cast("long"))
    val batch = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n"))
    // streaming emits only CLOSED sessions: batch minus the last session of
    // each user
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("start_us").desc)
    val batchClosed = batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") =!= 1).drop("rn")
    assert(got.except(batchClosed).count() === 0,
      "stateful emitted a session batch doesn't have")
    assert(batchClosed.except(got).count() === 0,
      "stateful missed a closed session")
  }

  test("stream-stream interval join pairs within 5 minutes, same user, across batches") {
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    def ev(id: Long, min: Long, user: Long) = Event(id, ts(min), user, "x", 1.0, "{}")
    val joined = Streams.intervalJoin(msL.toDF(), msR.toDF())
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("interval_join").start()
    // batch 1: left event at minute 10 (user 1); right events at 6, 8 (user 1),
    // 9 (user 2 — wrong user), 10 (same instant — excluded by r.ts < l.ts)
    msL.addData(ev(100, 10, 1))
    msR.addData(ev(1, 6, 1), ev(2, 8, 1), ev(3, 9, 2), ev(4, 10, 1))
    q.processAllAvailable()
    // batch 2: right event at minute 7 arrives LATE but within watermark
    // (10 min delay) → state must still hold the left row; plus a right
    // event outside the 5-minute bound
    msR.addData(ev(5, 7, 1), ev(6, 4, 1))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("interval_join")
      .select("l_id", "r_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((100L, 1L), (100L, 2L), (100L, 5L)),
      s"interval join pairs wrong: $got")
  }

  test("left-outer interval join emits null-padded rows after the watermark closes the window") {
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    def ev(id: Long, min: Long, user: Long) = Event(id, ts(min), user, "x", 1.0, "{}")
    val joined = Streams.intervalJoin(msL.toDF(), msR.toDF(), "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("interval_outer").start()
    // left event at minute 10 with a match; left event at minute 12 without
    msL.addData(ev(100, 10, 1), ev(101, 12, 2))
    msR.addData(ev(1, 8, 1))
    q.processAllAvailable()
    // advance both watermarks far past minute 12 + delay so the engine can
    // prove no match will ever arrive for event 101
    msL.addData(ev(999, 1000, 9))
    msR.addData(ev(998, 1000, 9))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("interval_outer")
      .filter(col("l_id").isin(100L, 101L))
      .select(col("l_id"), col("r_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(rows === Seq((100L, 1L), (101L, -1L)),
      s"outer join rows wrong: $rows")
  }

  test("batch twin of intervalJoin agrees with q_interval_join_events pair counts") {
    val ev    = Tables.events(spark, sfDir)
    val pairs = Streams.intervalJoin(ev, ev)
      .groupBy(col("l_id")).agg(count(lit(1)).as("n_recent"))
    val want = SparkEntry.queries("q_interval_join_events")(spark, sfDir)
      .filter(col("n_recent") > 0)
    assert(pairs.except(want).count() === 0 && want.except(pairs).count() === 0)
  }

  test("stream-stream as-of join emits the latest preceding right once the watermark passes") {
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    def ev(id: Long, min: Long, user: Long) = Event(id, ts(min), user, "x", 1.0, "{}")
    val q = Streams.asOfJoinStream(msL.toDF(), msR.toDF()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("asof_stream").start()
    // user 1 has rights at 5, 8, 12; user 2 has none
    msL.addData(ev(100, 10, 1), ev(101, 20, 2))
    msR.addData(ev(1, 5, 1), ev(2, 8, 1), ev(3, 12, 1))
    q.processAllAvailable()
    // a later left + right arrive in a second batch — state must carry the
    // user-1 rights across the boundary
    msL.addData(ev(102, 18, 1))
    msR.addData(ev(4, 15, 1))
    q.processAllAvailable()
    // sentinels push the watermark far past every real event → flush
    msL.addData(ev(999, 100000, 9))
    msR.addData(ev(998, 100000, 9))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_stream")
      .select(col("l_id"), coalesce(col("r_id"), lit(-1L))).as[(Long, Long)]
      .collect().sorted.toSeq
    // 100@10 → right 2@8 (latest ≤ 10); 101 (user 2) → null; 102@18 → right
    // 4@15 (15 beats 12); sentinel left 999 stays pending, never emitted
    assert(got === Seq((100L, 2L), (101L, -1L), (102L, 4L)), s"as-of rows wrong: $got")
  }

  test("stream-stream as-of join matches batch q_asof_join_native on replayed data") {
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    // replay the SAME inputs the batch query reads: events as the left
    // stream; orders (ts offset by o_orderkey µs, exactly like the query)
    // as the right stream
    val lefts  = loadEvents
    val rights = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("event_id"),
        timestamp_micros(unix_micros(col("o_orderdate").cast("timestamp"))
          + col("o_orderkey")).as("ts"),
        col("o_custkey").as("user_id"), lit("x").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .as[Event].collect().toSeq
    val q = Streams.asOfJoinStream(msL.toDF(), msR.toDF()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("asof_replay").start()
    msL.addData(lefts)
    msR.addData(rights)
    q.processAllAvailable()
    // watermark sentinel far past every real event — flushes all real lefts
    val far = new Timestamp(4102444800000L) // 2100-01-01
    msL.addData(Event(999999L, far, 999999L, "x", 1.0, "{}"))
    msR.addData(Event(999998L, far, 999999L, "x", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_replay")
      .filter(col("l_id") =!= 999999L)
      .select(col("l_id").as("event_id"), col("l_us").as("us"),
        col("r_id").as("o_orderkey"), col("r_us").as("ous"))
    val want = SparkEntry.queries("q_asof_join_native")(spark, sfDir)
    assert(got.count() === want.count())
    assert(got.except(want).count() === 0 && want.except(got).count() === 0,
      "streaming as-of diverged from the batch native operator")
  }

  test("hot key: thousands of same-key events in one trigger equal the batch as-of join") {
    // all 6,000 events for ONE key land in a single micro-batch — the
    // sorted-merge buffer must handle it linearithmically AND produce
    // exactly what the batch twin produces on the same frames
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    val n = 3000
    // +100min base: an event at epoch 0 sits exactly AT the initial
    // watermark and Spark's late-row filter (ts <= wm) would drop it before
    // it ever reaches the state store — a watermark semantic, not a buffer one
    val lefts  = (0 until n).map(i => Event(10000L + i, ts(100L + 2L * i + 1), 7L, "x", 1.0, "{}"))
    // rights include same-timestamp duplicates (i and i+1 share ts for even
    // i) so the larger-id tiebreak is exercised under load
    val rights = (0 until n).map(i => Event(50000L + i, ts(100L + 2L * (i / 2 * 2)), 7L, "x", 1.0, "{}"))
    val q = Streams.asOfJoinStream(msL.toDF(), msR.toDF()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("asof_hot").start()
    msL.addData(lefts)
    msR.addData(rights)
    q.processAllAvailable()
    val far = new Timestamp(4102444800000L)
    msL.addData(Event(999999L, far, 9L, "x", 1.0, "{}"))
    msR.addData(Event(999998L, far, 9L, "x", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_hot").filter(col("l_id") =!= 999999L)
    val want = Streams.asOfJoinStream(lefts.toDF(), rights.toDF()).toDF()
    assert(got.count() === n.toLong)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0,
      "hot-key streaming as-of diverged from its batch twin")
  }

  test("idle-key TTL reclaims the dominating-right state floor") {
    // with idleRightTtlMs set, a key whose state is down to the single
    // dominating right is dropped once the watermark moves TTL past it —
    // a later left then matches null instead of the expired right
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    def ev(id: Long, min: Long, user: Long) = Event(id, ts(min), user, "x", 1.0, "{}")
    val q = Streams.asOfJoinStream(msL.toDF(), msR.toDF(),
        idleRightTtlMs = Some(60000L)).toDF()
      .writeStream.outputMode("append").format("memory").queryName("asof_ttl").start()
    msR.addData(ev(1, 5, 1)) // the lone right for user 1
    msL.addData(ev(900, 6, 9))
    q.processAllAvailable()
    // two watermark advances: first compacts user 1 down to the dominating
    // right and schedules the TTL wake-up, second fires the timeout
    msL.addData(ev(901, 10000, 9)); msR.addData(ev(902, 10000, 9))
    q.processAllAvailable()
    msL.addData(ev(903, 10001, 9)); msR.addData(ev(904, 10001, 9))
    q.processAllAvailable()
    // user 1's right is long past its TTL — this left must match nothing
    msL.addData(ev(100, 20000, 1))
    msL.addData(ev(905, 30000, 9)); msR.addData(ev(906, 30000, 9))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("asof_ttl").filter(col("l_id") === 100L)
      .select(col("r_id")).collect()
    assert(r.length === 1 && r.head.isNullAt(0),
      s"TTL'd right must not match; got ${r.toSeq}")
  }

  test("asOfJoinStream on plain batch frames equals the native batch as-of join") {
    // the object's contract: the same transform runs in both modes. In
    // batch there is no watermark clock — every left must resolve in the
    // single invocation (wm = +inf), not crash or emit nothing.
    val leftB = loadEvents.toDF()
    val rightB = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("event_id"),
        timestamp_micros(unix_micros(col("o_orderdate").cast("timestamp"))
          + col("o_orderkey")).as("ts"),
        col("o_custkey").as("user_id"), lit("x").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    val got = Streams.asOfJoinStream(leftB, rightB).toDF()
      .select(col("l_id").as("event_id"), col("l_us").as("us"),
        col("r_id").as("o_orderkey"), col("r_us").as("ous"))
    val want = SparkEntry.queries("q_asof_join_native")(spark, sfDir)
    assert(got.count() === want.count())
    assert(got.except(want).count() === 0 && want.except(got).count() === 0,
      "batch-mode asOfJoinStream diverged from the native as-of join")
  }

  test("streaming fingerprint dedup drops content re-uploads across micro-batches") {
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    def Doc(id: Long, text: String, t: Timestamp) = StreamingSpec.Doc(id, text, t)
    val q = Streams.dedupDocsByFingerprint(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("doc_dedup").start()
    // batch 1: two distinct texts + an in-batch re-upload (different doc_id!)
    ms.addData(Doc(1, "alpha beta", ts(1)), Doc(2, "gamma", ts(2)),
      Doc(3, "alpha beta", ts(3)))
    q.processAllAvailable()
    // batch 2: a cross-batch re-upload and one genuinely new doc
    ms.addData(Doc(4, "gamma", ts(4)), Doc(5, "delta", ts(5)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("doc_dedup").select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 2L, 5L), s"wrong survivors: $kept")
  }

  test("streaming near-dup curation against a frozen index equals the batch filter") {
    // index = the real corpus; the stream carries re-uploads of indexed
    // texts (must drop) and fresh texts (must keep), across two triggers
    val docsTable = Tables.documents(spark, sfDir)
    val index = graft.ops.Dedup.clusterFrameOf(docsTable)
    val dupTexts = docsTable.orderBy("doc_id").limit(2)
      .select("text").collect().map(_.getString(0))
    val feed = Seq(
      StreamingSpec.Doc(9001L, dupTexts(0), ts(1)),                // re-upload
      StreamingSpec.Doc(9002L, "zxq wvu tsr qpo nml kji", ts(2)),  // fresh
      StreamingSpec.Doc(9003L, dupTexts(1), ts(3)),                // re-upload
      StreamingSpec.Doc(9004L, "aab bbc ccd dde eef ffg", ts(4)))  // fresh
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    val keptIds = scala.collection.mutable.Set.empty[Long]
    val q = Streams.nearDupCuration(index, ms.toDF()) { kept =>
      keptIds.synchronized {
        keptIds ++= kept.select("doc_id").collect().map(_.getLong(0))
      }
    }
    ms.addData(feed(0), feed(1))
    q.processAllAvailable()
    ms.addData(feed(2), feed(3))
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val batchKept = graft.ops.Dedup.dropNearDups(index, feed.toDF())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.toSet === batchKept,
      s"stream kept ${keptIds.toSet}, batch kept $batchKept")
    assert(batchKept === Set(9002L, 9004L), s"expected fresh docs only: $batchKept")
  }

  test("streaming index retirement: live index equals a rebuild after every trigger; replay is a no-op") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val index0 = graft.ops.Dedup.clusterFrameOf(docs)
    def canon(cf: org.apache.spark.sql.DataFrame) = cf
      .select(col("cid"), sort_array(col("ms")).as("ms"), col("th"), col("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3))).toSet
    def rebuildMinus(ids: Seq[Long]) = canon(graft.ops.Dedup.clusterFrameOf(
      docs.join(ids.toDF("doc_id"), Seq("doc_id"), "left_anti")))
    val t1 = docs.filter(col("doc_id") % 7 === 3).select("doc_id").as[Long].collect().toSeq
    val t2 = docs.filter(col("doc_id") % 5 === 2).select("doc_id").as[Long].collect().toSeq

    // streaming face: two tombstone triggers, live-index emission each
    val ms = MemoryStream[Long](spark)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[Set[(Long, Seq[Long], Seq[Long], Seq[Long])]]
    val q = Streams.retireIngest(index0,
      ms.toDF().withColumnRenamed("value", "doc_id")) { idx =>
      emitted.synchronized { emitted += canon(idx) }
    }
    ms.addData(t1)
    q.processAllAvailable()
    ms.addData(t2)
    q.processAllAvailable()
    q.stop()
    assert(emitted.size === 2)
    assert(emitted(0) === rebuildMinus(t1),
      "live index after trigger 1 != rebuild on surviving corpus")
    assert(emitted(1) === rebuildMinus(t1 ++ t2),
      "live index after trigger 2 != rebuild on surviving corpus")

    // replay face: re-delivering a tombstone batch is a set-difference
    // no-op — idempotence IS the exactly-once guarantee here
    val fold = new Streams.RetireFold(index0, _ => ())
    fold.step(t1.toDF("doc_id"))
    fold.step(t2.toDF("doc_id"))
    val afterOnce = canon(fold.current)
    fold.step(t2.toDF("doc_id")) // recovery replay
    assert(canon(fold.current) === afterOnce, "replayed retirement moved the index")
    assert(afterOnce === rebuildMinus(t1 ++ t2))
  }

  test("fold-state commit is atomic: a crash mid-stage leaves the previous state restorable") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("foldstate").toString
    def frame(v: Long) = Seq(v).toDF("v")
    assert(Streams.FoldState.commit(spark, dir, 0L) { st =>
      frame(1L).write.parquet(new Path(st, "x").toString) })
    // a crashed attempt at id 1: the stage callback dies after partial work
    intercept[RuntimeException] {
      Streams.FoldState.commit(spark, dir, 1L) { st =>
        frame(2L).write.parquet(new Path(st, "x").toString)
        throw new RuntimeException("simulated crash mid-stage")
      }
    }
    // the previous committed state is untouched and restorable
    val (id, st) = Streams.FoldState.latest(spark, dir).get
    assert(id === 0L)
    assert(spark.read.parquet(new Path(st, "x").toString).as[Long].head === 1L)
    // a retried commit of the crashed id clears the leftover and lands
    assert(Streams.FoldState.commit(spark, dir, 1L) { s2 =>
      frame(3L).write.parquet(new Path(s2, "x").toString) })
    val (id2, st2) = Streams.FoldState.latest(spark, dir).get
    assert(id2 === 1L)
    assert(spark.read.parquet(new Path(st2, "x").toString).as[Long].head === 3L)
    // GC kept exactly the new state; the crashed staging dir is gone
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.filter(_.startsWith("state-")) === Set(f"state-${1L}%020d"))
    assert(!names.exists(_.startsWith(".staging-")))
    // re-committing an already-committed id is a skip, not a rewrite
    assert(!Streams.FoldState.commit(spark, dir, 1L) { _ =>
      fail("an already-committed id must not re-stage") })
  }

  test("durable retire fold survives a PROCESS restart: index restored, replay still a no-op") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val index0 = graft.ops.Dedup.clusterFrameOf(docs)
    def canon(cf: DataFrame) = cf
      .select(col("cid"), sort_array(col("ms")).as("ms"), col("th"), col("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3))).toSet
    def rebuildMinus(ids: Seq[Long]) = canon(graft.ops.Dedup.clusterFrameOf(
      docs.join(ids.toDF("doc_id"), Seq("doc_id"), "left_anti")))
    val t1 = docs.filter(col("doc_id") % 7 === 3).select("doc_id").as[Long].collect().toSeq
    val t2 = docs.filter(col("doc_id") % 5 === 2).select("doc_id").as[Long].collect().toSeq
    val t3 = docs.filter(col("doc_id") % 11 === 4).select("doc_id").as[Long].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("retire-state").toString

    // process 1: two tombstone triggers, then "death"
    val f1 = new Streams.RetireFold(index0, _ => (), Some(dir))
    f1.step(t1.toDF("doc_id"), 0L)
    f1.step(t2.toDF("doc_id"), 1L)

    // process 2: restart + checkpoint replay of the last batch — the
    // restored index re-applies the retirement (idempotent no-op, the
    // committed persist skips), then a NEW trigger continues from it
    val f2 = new Streams.RetireFold(index0, _ => (), Some(dir))
    f2.step(t2.toDF("doc_id"), 1L) // checkpoint replay after restart
    assert(canon(f2.current) === rebuildMinus(t1 ++ t2),
      "restored+replayed index != rebuild on surviving corpus")
    f2.step(t3.toDF("doc_id"), 2L)
    assert(canon(f2.current) === rebuildMinus(t1 ++ t2 ++ t3))

    // process 3: restore ALONE (no replay) carries the whole history;
    // GC left exactly one committed state
    val f3 = new Streams.RetireFold(index0, _ => (), Some(dir))
    assert(canon(f3.current) === rebuildMinus(t1 ++ t2 ++ t3))
    val states = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("state-")).map(_.getName).toSeq
    assert(states.size === 1, s"GC should keep exactly one state: $states")
    // a durable fold demands real batch ids
    intercept[IllegalArgumentException] {
      new Streams.RetireFold(index0, _ => (), Some(dir)).step(t1.toDF("doc_id"))
    }
  }

  test("streaming chunk novelty against a frozen chunk index equals the batch scorer") {
    // index = the corpus's CDC chunk hashes; the feed carries a verbatim
    // re-upload (novelty 0), a fresh doc (novelty 1000), and the case
    // whole-doc hashing misclassifies: an indexed doc's text pasted
    // before fresh text (strictly partial novelty)
    val docsTable = Tables.documents(spark, sfDir)
    val index = graft.ops.Dedup.chunkFrame(docsTable).select("chash").cache()
    try {
      val srcTexts = docsTable.orderBy("doc_id").limit(2)
        .select("text").collect().map(_.getString(0))
      val freshTail = "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg " * 4
      val feed = Seq(
        StreamingSpec.Doc(9101L, srcTexts(0), ts(1)),              // re-upload
        StreamingSpec.Doc(9102L, freshTail, ts(2)),                // fresh
        StreamingSpec.Doc(9103L, srcTexts(1) + " " + freshTail, ts(3))) // hybrid
      val ms = MemoryStream[StreamingSpec.Doc](spark)
      val got = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      val q = Streams.chunkNoveltyIngest(index, ms.toDF()) { scored =>
        got.synchronized {
          scored.select("doc_id", "n_known", "novelty_permille").collect()
            .foreach(r => got(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
        }
      }
      ms.addData(feed(0), feed(1))
      q.processAllAvailable()
      ms.addData(feed(2))
      q.processAllAvailable()
      q.stop()
      import spark.implicits._
      val batch = graft.ops.Dedup.chunkNovelty(index, feed.toDF())
        .select("doc_id", "n_known", "novelty_permille").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got.toMap === batch, s"stream $got != batch $batch")
      assert(batch(9101L)._2 === 0L, s"re-upload must score 0: $batch")
      // the hybrid: strictly between 0 and the fresh doc's score — the
      // pasted indexed half still dedups chunk-by-chunk
      assert(batch(9103L)._2 > 0L && batch(9103L)._2 < batch(9102L)._2,
        s"hybrid must score partial novelty: $batch")
      assert(batch(9103L)._1 > 0L, "hybrid must have known chunks")
    } finally index.unpersist()
  }

  test("streaming SemDeDup against frozen cells equals the batch filter on an out-of-order feed") {
    // frozen index: the real embedding corpus stamped with learned cells;
    // the stream carries SCALED re-uploads of indexed vectors (cosine
    // exactly 1 with their original, and cell assignment is cosine-argmax
    // so scaling cannot move them out of the original's cell → must drop)
    // plus fresh random vectors, dealt out of id order across two triggers
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cents = graft.ops.Similarity.kmeansCentroidsFrom(emb)
    val index = graft.ops.Similarity.cellIndexOf(emb, cents).cache()
    try {
      val src = emb.orderBy("vec_id").limit(3).collect()
        .map(r => r.getSeq[Float](1))
      val dim = src(0).size
      def fresh(seed: Int): Seq[Float] = {
        val r = new scala.util.Random(seed)
        Seq.fill(dim)(r.nextGaussian().toFloat)
      }
      val feed = Seq(
        StreamingSpec.Vec(9001L, src(0).map(_ * 0.5f)), // re-upload, rescaled
        StreamingSpec.Vec(9002L, fresh(101)),
        StreamingSpec.Vec(9003L, src(1).map(_ * 2.0f)), // re-upload, rescaled
        StreamingSpec.Vec(9004L, fresh(202)),
        StreamingSpec.Vec(9005L, src(2)),               // exact re-upload
        StreamingSpec.Vec(9006L, fresh(303)))
      val dealt = feed.sortBy(v => v.vec_id * 2654435761L % 97) // NOT id order
      val ms = MemoryStream[StreamingSpec.Vec](spark)
      val keptIds = scala.collection.mutable.Set.empty[Long]
      val q = Streams.semDedupIngest(index, cents, ms.toDF()) { kept =>
        keptIds.synchronized {
          keptIds ++= kept.select("vec_id").collect().map(_.getLong(0))
        }
      }
      val (h1, h2) = dealt.splitAt(3)
      ms.addData(h1)
      q.processAllAvailable()
      ms.addData(h2)
      q.processAllAvailable()
      q.stop()
      val batchKept = graft.ops.Similarity
        .semDedupIngestFilter(index, cents, feed.toDF())
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(keptIds.toSet === batchKept,
        s"stream kept ${keptIds.toSet}, batch kept $batchKept")
      assert(Set(9001L, 9003L, 9005L).intersect(batchKept).isEmpty,
        s"re-uploads of indexed vectors must drop, kept: $batchKept")
    } finally index.unpersist()
  }

  test("running profile ingest equals the batch profiler; a replayed trigger folds once") {
    import org.apache.spark.sql.Row
    // out-of-order feed: trigger 2 carries EARLIER timestamps (and the
    // extremes of value/user_id) than trigger 1 — the profiler is
    // order-free, so the running profile must not care
    def ev(id: Long, min: Long, u: Long, typ: String, v: Double) =
      Event(id, ts(min), u, typ, v, "{}")
    val feed1 = Seq(ev(10, 120, 3, "click", 7.25), ev(11, 150, 4, "view", 2.5),
      ev(12, 200, 3, "click", 7.25))
    val feed2 = Seq(ev(1, 5, 9, "purchase", 0.011111), ev(2, 10, 1, "error", 480.5))
    val whole = (feed1 ++ feed2).toDF()
    val want = graft.ops.Profile.finalizeProfile(graft.ops.Profile
      .mergeProfileStates(graft.ops.Profile.incrementalStates(
        whole.withColumn("half", col("event_id") % 2)))).collect().toSeq

    // streaming face: per-trigger emissions, the last one is the whole-feed profile
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val ms = MemoryStream[Event](spark)
    val q = Streams.profileIngest(ms.toDF())(df => emitted += df.collect().toSeq)
    ms.addData(feed1)
    q.processAllAvailable()
    ms.addData(feed2)
    q.processAllAvailable()
    q.stop()
    assert(emitted.size >= 2)
    assert(emitted.last === want,
      s"stream ${emitted.last} != batch $want")

    // replay face: re-delivering the last batch id must REPLACE its
    // state — counts fold once, registers max-merge idempotently
    val emitted2 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val fold = new Streams.ProfileFold(df => emitted2 += df.collect().toSeq)
    fold.step(feed1.toDF(), 0L)
    fold.step(feed2.toDF(), 1L)
    fold.step(feed2.toDF(), 1L) // the recovery replay
    assert(emitted2.last === want,
      s"replayed fold ${emitted2.last} != batch $want")
    // and a third DISTINCT batch still folds the replayed one exactly once
    val feed3 = Seq(ev(20, 300, 7, "signup", 3.5))
    fold.step(feed3.toDF(), 2L)
    val want3 = graft.ops.Profile.finalizeProfile(graft.ops.Profile
      .mergeProfileStates(graft.ops.Profile.incrementalStates(
        (feed1 ++ feed2 ++ feed3).toDF()
          .withColumn("half", col("event_id") % 2)))).collect().toSeq
    assert(emitted2.last === want3,
      s"post-replay fold ${emitted2.last} != batch $want3")
  }

  test("durable profile fold survives a PROCESS restart: replay-after-restore folds once") {
    import org.apache.spark.sql.Row
    def ev(id: Long, min: Long, u: Long, typ: String, v: Double) =
      Event(id, ts(min), u, typ, v, "{}")
    val feed1 = Seq(ev(10, 120, 3, "click", 7.25), ev(11, 150, 4, "view", 2.5))
    val feed2 = Seq(ev(1, 5, 9, "purchase", 0.011111), ev(2, 10, 1, "error", 480.5))
    val feed3 = Seq(ev(20, 300, 7, "signup", 3.5))
    def wantOf(rows: Seq[Event]): Seq[Row] = graft.ops.Profile
      .finalizeProfile(graft.ops.Profile.mergeProfileStates(
        graft.ops.Profile.incrementalStates(
          rows.toDF().withColumn("half", col("event_id") % 2)))).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("fold-state").toString

    // process 1: two triggers, then the process "dies"
    val em1 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f1 = new Streams.ProfileFold(df => em1 += df.collect().toSeq, Some(dir))
    f1.step(feed1.toDF(), 0L)
    f1.step(feed2.toDF(), 1L)
    assert(em1.last === wantOf(feed1 ++ feed2))

    // process 2: a FRESH fold over the same state dir; the restarted
    // query re-delivers the last batch (the recovery contract) — it
    // must REPLACE the restored last, never double-fold
    val em2 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f2 = new Streams.ProfileFold(df => em2 += df.collect().toSeq, Some(dir))
    f2.step(feed2.toDF(), 1L) // checkpoint replay after restart
    assert(em2.last === wantOf(feed1 ++ feed2),
      s"post-restart replay diverged: ${em2.last}")
    f2.step(feed3.toDF(), 2L)
    assert(em2.last === wantOf(feed1 ++ feed2 ++ feed3))

    // process 3: restart again WITHOUT a replay — restored state alone
    // must carry the whole history, and GC left exactly one state dir
    val em3 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f3 = new Streams.ProfileFold(df => em3 += df.collect().toSeq, Some(dir))
    f3.step(Seq(ev(30, 400, 2, "view", 1.0)).toDF(), 3L)
    assert(em3.last === wantOf(feed1 ++ feed2 ++ feed3 ++ Seq(ev(30, 400, 2, "view", 1.0))))
    val states = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("state-")).map(_.getName).toSeq
    assert(states.size === 1, s"GC should keep exactly one state: $states")
  }

  /** The `state-` entries of each state dir. */
  private def statesIn(dirs: String*): Map[String, Seq[String]] =
    dirs.map(d => d -> new java.io.File(d).listFiles().map(_.getName)
      .filter(_.startsWith("state-")).toSeq).toMap

  test("profile fold crash between its counts and regs commits: the replay re-aligns them") {
    import org.apache.spark.sql.Row
    def ev(id: Long, min: Long, u: Long, typ: String, v: Double) =
      Event(id, ts(min), u, typ, v, "{}")
    val feed1 = Seq(ev(10, 120, 3, "click", 7.25), ev(11, 150, 4, "view", 2.5))
    val feed2 = Seq(ev(1, 5, 9, "purchase", 0.011111), ev(2, 10, 1, "error", 480.5))
    val want = graft.ops.Profile.finalizeProfile(graft.ops.Profile.mergeProfileStates(
      graft.ops.Profile.incrementalStates((feed1 ++ feed2).toDF()
        .withColumn("half", col("event_id") % 2)))).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("profile-crash").toString

    // process 1: batch 0 whole; batch 1 commits its counts, then the
    // process dies before the regs commit (counts at 1, regs at 0)
    val f1 = new Streams.ProfileFold(_ => (), Some(dir))
    f1.step(feed1.toDF(), 0L)
    f1.counts.step(feed2.toDF(), 1L)

    // process 2: a fresh fold over the same dirs; the restarted query
    // re-delivers batch 1
    val em = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f2 = new Streams.ProfileFold(df => em += df.collect().toSeq, Some(dir))
    f2.step(feed2.toDF(), 1L)
    assert(em.last === want, s"post-crash replay diverged: ${em.last}")
    val one = Seq(f"state-${1L}%020d")
    assert(statesIn(dir, dir + Streams.RegsSuffix).values.forall(_ === one),
      s"each component dir must hold exactly state 1: ${statesIn(dir, dir + Streams.RegsSuffix)}")
  }

  test("drift fold crash between its era and live commits of the cut batch: the replay re-aligns them") {
    import org.apache.spark.sql.Row
    def ev(id: Long, min: Long, u: Long, typ: String, v: Double) =
      Event(id, ts(min), u, typ, v, "{}")
    val era0  = Seq(ev(1, 5, 1, "click", 2.0), ev(2, 10, 1, "view", 2.5),
      ev(3, 15, 2, "click", 2.25))
    val feed2 = Seq(ev(10, 120, 7, "purchase", 40.0), ev(11, 125, 8, "error", 55.5))
    def statesOf(rows: Seq[Event]) = graft.ops.Profile.mergeProfileStates(
      graft.ops.Profile.incrementalStates(
        rows.toDF().withColumn("half", col("event_id") % 2)))
    val want = graft.ops.Profile.driftStates(statesOf(era0), statesOf(era0 ++ feed2))
      .collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("drift-crash").toString

    // process 1: the era spans batches 0 and 1 (eraCut = 1); at the cut
    // batch the era fold commits, then the process dies before the live
    // fold does (era at 1, live at 0)
    val (cutA, cutB) = era0.splitAt(2)
    val f1 = new Streams.DriftFold(1L, _ => (), Some(dir))
    f1.step(cutA.toDF(), 0L)
    f1.era.step(cutB.toDF(), 1L)

    // process 2: restart, replay the cut batch, then one post-cut trigger
    val em = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f2 = new Streams.DriftFold(1L, df => em += df.collect().toSeq, Some(dir))
    f2.step(cutB.toDF(), 1L)
    assert(em.isEmpty, "the base era must not emit drift rows")
    f2.step(feed2.toDF(), 2L)
    assert(em.last === want, s"post-crash drift diverged: ${em.last}")
    val era = dir + Streams.EraSuffix
    val dirs = Seq(dir, dir + Streams.RegsSuffix, era, era + Streams.RegsSuffix)
    val got = statesIn(dirs: _*)
    assert(got(dir) === Seq(f"state-${2L}%020d") &&
      got(dir + Streams.RegsSuffix) === Seq(f"state-${2L}%020d") &&
      got(era) === Seq(f"state-${1L}%020d") &&
      got(era + Streams.RegsSuffix) === Seq(f"state-${1L}%020d"),
      s"each component dir must hold exactly one state: $got")
  }

  test("streaming drift feed equals the batch two-era diff; a replayed trigger changes nothing") {
    import org.apache.spark.sql.Row
    def ev(id: Long, min: Long, u: Long, typ: String, v: Double) =
      Event(id, ts(min), u, typ, v, "{}")
    // base era (trigger 0), then a drifting tail: new users, a new
    // event type, values an order of magnitude out — several stats must
    // flip drifted=true, the rest hold
    val era0  = Seq(ev(1, 5, 1, "click", 2.0), ev(2, 10, 1, "view", 2.5),
      ev(3, 15, 2, "click", 2.25))
    val feed2 = Seq(ev(10, 120, 7, "purchase", 40.0), ev(11, 125, 8, "error", 55.5))
    val feed3 = Seq(ev(12, 130, 9, "signup", 60.0), ev(13, 135, 10, "view", 58.0))
    def statesOf(rows: Seq[Event]) = graft.ops.Profile.mergeProfileStates(
      graft.ops.Profile.incrementalStates(
        rows.toDF().withColumn("half", col("event_id") % 2)))
    def wantVs(full: Seq[Event]): Seq[Row] = graft.ops.Profile
      .driftStates(statesOf(era0), statesOf(full)).collect().toSeq

    // streaming face: trigger 0 freezes the snapshot (emits nothing),
    // each later trigger diffs the live fold against it
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val ms = MemoryStream[Event](spark)
    val q = Streams.driftIngest(ms.toDF(), eraCut = 0L)(df => emitted += df.collect().toSeq)
    ms.addData(era0)
    q.processAllAvailable()
    assert(emitted.isEmpty, "the base era must not emit drift rows")
    ms.addData(feed2)
    q.processAllAvailable()
    ms.addData(feed3)
    q.processAllAvailable()
    q.stop()
    assert(emitted.size === 2)
    assert(emitted.head === wantVs(era0 ++ feed2))
    assert(emitted.last === wantVs(era0 ++ feed2 ++ feed3))
    // the fixture drifts for real: at least one true and one false row
    val flags = emitted.last.map(_.getAs[Boolean]("drifted"))
    assert(flags.contains(true) && flags.contains(false))

    // replay face: re-delivering a post-cut trigger must not move the
    // drift rows (the fold replaces, never double-counts)
    val emitted2 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val fold = new Streams.DriftFold(0L, df => emitted2 += df.collect().toSeq)
    fold.step(era0.toDF(), 0L)
    fold.step(feed2.toDF(), 1L)
    fold.step(feed2.toDF(), 1L) // recovery replay
    assert(emitted2.last === wantVs(era0 ++ feed2),
      s"replayed drift ${emitted2.last} != batch")
    fold.step(feed3.toDF(), 2L)
    assert(emitted2.last === wantVs(era0 ++ feed2 ++ feed3))
  }

  test("durable drift fold survives a PROCESS restart: snapshot restored with and without replay") {
    import org.apache.spark.sql.Row
    def ev(id: Long, min: Long, u: Long, typ: String, v: Double) =
      Event(id, ts(min), u, typ, v, "{}")
    val era0  = Seq(ev(1, 5, 1, "click", 2.0), ev(2, 10, 1, "view", 2.5),
      ev(3, 15, 2, "click", 2.25))
    val feed2 = Seq(ev(10, 120, 7, "purchase", 40.0), ev(11, 125, 8, "error", 55.5))
    val feed3 = Seq(ev(12, 130, 9, "signup", 60.0), ev(13, 135, 10, "view", 58.0))
    val feed4 = Seq(ev(14, 140, 11, "click", 61.0))
    def statesOf(rows: Seq[Event]) = graft.ops.Profile.mergeProfileStates(
      graft.ops.Profile.incrementalStates(
        rows.toDF().withColumn("half", col("event_id") % 2)))
    def wantVs(full: Seq[Event]): Seq[Row] = graft.ops.Profile
      .driftStates(statesOf(era0), statesOf(full)).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("drift-state").toString

    // process 1: the cut trigger plus one post-cut trigger, then "death"
    val em1 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f1 = new Streams.DriftFold(0L, df => em1 += df.collect().toSeq, Some(dir))
    f1.step(era0.toDF(), 0L)
    f1.step(feed2.toDF(), 1L)
    assert(em1.last === wantVs(era0 ++ feed2))

    // process 2: restart + checkpoint replay of the last batch — the
    // RESTORED snapshot must carry the diff without re-seeing the cut
    val em2 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f2 = new Streams.DriftFold(0L, df => em2 += df.collect().toSeq, Some(dir))
    f2.step(feed2.toDF(), 1L) // checkpoint replay after restart
    assert(em2.last === wantVs(era0 ++ feed2),
      s"post-restart replay diverged: ${em2.last}")
    f2.step(feed3.toDF(), 2L)
    assert(em2.last === wantVs(era0 ++ feed2 ++ feed3))

    // process 3: restart WITHOUT a replay — the snapshot and running
    // state alone must carry the whole history; GC left exactly one
    val em3 = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val f3 = new Streams.DriftFold(0L, df => em3 += df.collect().toSeq, Some(dir))
    f3.step(feed4.toDF(), 3L)
    assert(em3.last === wantVs(era0 ++ feed2 ++ feed3 ++ feed4))
    val states = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("state-")).map(_.getName).toSeq
    assert(states.size === 1, s"GC should keep exactly one state: $states")
  }

  test("windowed constraint monitor equals batch on an out-of-order multi-trigger feed") {
    // hour 0 carries one value-floor violation and one unknown event
    // type; hour 1 is clean — late hour-0 rows arrive in trigger 2
    // inside the watermark
    def ev(id: Long, min: Long, v: Double, typ: String) =
      Event(id, ts(min), 1L, typ, v, "{}")
    val feed = Seq(
      ev(1, 5, 10.0, "click"),
      ev(2, 20, 0.5, "view"),        // value below floor
      ev(3, 55, 3.0, "purchase"),    // trigger-1 max: watermark 45 keeps hour 0 open
      ev(4, 10, 2.0, "zzz_bogus"),   // unknown type, late hour-0 row (inside watermark)
      ev(5, 80, 4.0, "signup"))
    val ms = MemoryStream[Event](spark)
    val q = Streams.constraintMonitor(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("cmon").start()
    ms.addData(feed(0), feed(1), feed(2))
    q.processAllAvailable()
    ms.addData(feed(3), feed(4))
    q.processAllAvailable()
    // flush: advance the watermark far past both windows
    ms.addData(ev(99, 100000, 9.0, "click"))
    q.processAllAvailable()
    ms.addData(ev(100, 100001, 9.0, "click"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cmon")
      .filter(col("window_us") < 100L * 3600L * 1000000L)
    val batch = Streams.constraintMonitor(feed.toDF())
    assert(got.except(batch).count() === 0 && batch.except(got).count() === 0,
      s"stream ${got.collect().toSeq} != batch ${batch.collect().toSeq}")
    val h0 = batch.filter(col("window_us") === 0L).collect()(0)
    assert(h0.getLong(1) === 4L && h0.getLong(2) === 1L && h0.getLong(3) === 1L,
      s"hour-0 checks: $h0")
  }

  test("streaming perceptual ingest equals the batch score on an out-of-order feed") {
    // frozen index: dHash codes of the %5==0 family (every retouch's
    // base); the stream carries real PNG payloads — retouches of indexed
    // images (must score >= 1) and never-indexed images (must score 0) —
    // dealt out of id order across two triggers
    val docs = Tables.documents(spark, sfDir).select("doc_id").as[Long]
      .collect()
    val index = graft.ops.Multimodal.dhashCodes(
        graft.ops.Multimodal.encodePerc(spark, sfDir)
          .filter(col("media_id") % 5 === 0))
      .toDF().cache()
    try {
      val nIdx = index.count()
      val dupIds   = docs.filter(_ % 5 == 1).take(4)
      val freshIds = docs.filter(_ % 5 == 2).take(4)
      assert(dupIds.nonEmpty && freshIds.nonEmpty)
      val feed = (dupIds ++ freshIds).map(id => StreamingSpec.Media(
        id, "png", graft.ops.Multimodal.percPngBytes(id)))
      val dealt = feed.sortBy(m => m.media_id * 2654435761L % 997).toSeq
      val ms  = MemoryStream[StreamingSpec.Media](spark)
      val got = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
      val q = Streams.percIngest(index, nIdx, ms.toDF()) { scored =>
        got.synchronized {
          scored.select("media_id", "n_index_matches", "is_novel").collect()
            .foreach(r => got(r.getLong(0)) = (r.getLong(1), r.getBoolean(2)))
        }
      }
      val (h1, h2) = dealt.splitAt(3)
      ms.addData(h1)
      q.processAllAvailable()
      ms.addData(h2)
      q.processAllAvailable()
      q.stop()
      val batch = graft.ops.Multimodal.percIngestScore(index,
          feed.toSeq.toDS().map(m =>
            graft.ops.Multimodal.RealMedia(m.media_id, m.kind, m.payload)),
          nIdx)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
        .toMap
      assert(got.toMap === batch, s"stream $got != batch $batch")
      dupIds.foreach(id =>
        assert(batch(id)._1 >= 1L && !batch(id)._2, s"retouch $id: ${batch(id)}"))
      freshIds.foreach(id =>
        assert(batch(id)._1 === 0L && batch(id)._2, s"fresh $id: ${batch(id)}"))
    } finally index.unpersist()
  }

  test("streaming CDC snapshot equals the batch snapshot on an out-of-order multi-trigger feed") {
    // the real sf0.001 changelog (1000 events, 15 keys, tombstones mixed
    // in), dealt into 3 triggers in hash order — NOT time order — so
    // per-key winners flip across and within triggers
    val events = Tables.events(spark, sfDir).as[Event].collect().toSeq
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.size + 2) / 3).toSeq
    val ms = MemoryStream[Event](spark)
    ms.addData(thirds(0))
    val q = Streams.cdcSnapshotStream(ms.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("cdc_stream").start()
    q.processAllAvailable()
    thirds.drop(1).foreach { t => ms.addData(t); q.processAllAvailable() }
    q.stop()
    val updates = spark.table("cdc_stream")
    // at most one update per key per trigger; the LAST per key is the
    // final state — compare against the batch snapshot query (tombstoned
    // keys must be absent there)
    val last = updates.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") === 1).drop("rn")
    val finalRows = last.filter(col("op") === "U")
      .select("user_id", "ts_us", "event_id", "payload_type", "value_cents")
    val batch = SparkEntry.queries("q_cdc_snapshot")(spark, sfDir)
    assert(finalRows.except(batch).count() === 0 &&
      batch.except(finalRows).count() === 0,
      "streaming CDC snapshot diverged from the batch snapshot")
    val tombstoned = last.filter(col("op") === "D").select("user_id")
    assert(tombstoned.intersect(batch.select("user_id")).count() === 0,
      "a tombstoned key is still present in the batch snapshot")
    // every key's final state is accounted for: U-keys ∪ D-keys = all keys
    assert(last.count() === events.map(_.user_id).distinct.size.toLong)
  }

  test("streaming curation filter equals the batch gates and redacts PII") {
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    val keepText = ("the quick brown dog and the lazy fox trade long emails about " +
      "hashing joins in a cluster of machines that is mostly idle at night " +
      "contact ops99@example.com for details of the on call rotation schedule")
    val junkShort = "too short"
    val junkRepeat = Seq.fill(60)("spam").mkString(" ") // distinct_ratio fails
    val q = Streams.curateDocs(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("curate").start()
    ms.addData(StreamingSpec.Doc(1, keepText, ts(1)),
      StreamingSpec.Doc(2, junkShort, ts(2)))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Doc(3, junkRepeat, ts(3)),
      StreamingSpec.Doc(4, keepText + " second copy of the good doc", ts(4)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("curate")
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 4L),
      "gates must keep exactly the quality docs across batches")
    assert(got.filter(col("text").contains("@")).count() === 0 &&
      got.filter(col("text").contains("<EMAIL>")).count() === 2,
      "kept docs must have PII redacted")
    // batch ≡ stream: the same frame through the same transform
    val batch = Streams.curateDocs(Seq(
      StreamingSpec.Doc(1, keepText, ts(1)), StreamingSpec.Doc(2, junkShort, ts(2)),
      StreamingSpec.Doc(3, junkRepeat, ts(3)),
      StreamingSpec.Doc(4, keepText + " second copy of the good doc", ts(4))).toDF())
    assert(got.except(batch).count() === 0 && batch.except(got).count() === 0)
  }

  test("windowed Misra-Gries hot terms: bounded summary per window, hot word on top") {
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    val hot  = Seq.fill(30)("spark").mkString(" ")
    val cold = "alpha beta gamma delta epsilon zeta eta theta"
    val q = Streams.hotTermsPerWindow(ms.toDF(), k = 4)
      .writeStream.outputMode("append").format("memory").queryName("hot_terms").start()
    // two batches inside hour-0, then an hour-2 sentinel: the watermark
    // passes hour-0's end, so its finalized summary is emitted (append)
    ms.addData(StreamingSpec.Doc(1, hot, ts(1)), StreamingSpec.Doc(2, cold, ts(2)))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Doc(3, hot, ts(10)))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Doc(99, "flush", ts(150)))
    q.processAllAvailable()
    q.stop()
    val w0 = spark.table("hot_terms").filter(col("window_us") === 0L)
    assert(w0.count() > 0 && w0.count() <= 4, "summary must stay within k entries")
    val top = w0.orderBy(col("rank")).select("word").as[String].head()
    assert(top === "spark", s"hot word must dominate the window summary, got $top")
    // window n = 68 items (2 hot docs × 30 'spark' + 8 distinct cold words;
    // the flush doc lands in a later window), k=4 ⇒ envelope n/(k+1) = 68/5
    val est = w0.filter(col("word") === "spark").select("est").as[Long].head()
    assert(est <= 60L && est >= 60L - (68L / 5L), s"estimate $est escaped the envelope")
  }

  test("streaming CMS window grid equals the batch grid on an out-of-order feed") {
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    val docs = Seq(
      StreamingSpec.Doc(1, "spark spark flink", ts(1)),
      StreamingSpec.Doc(2, "alpha beta spark", ts(40)),
      // out of order but within the 10-minute watermark of ts(40)
      StreamingSpec.Doc(3, "beta beta gamma", ts(35)),
      StreamingSpec.Doc(4, "delta epsilon", ts(65)))
    val q = Streams.cmsGridPerWindow(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("cms_grid").start()
    ms.addData(docs(0), docs(1))
    q.processAllAvailable()
    ms.addData(docs(2), docs(3))
    q.processAllAvailable()
    // hour-3 sentinel: watermark passes the ends of hour-0 and hour-1,
    // so both finalized grids emit in append mode
    ms.addData(StreamingSpec.Doc(99, "flush", ts(190)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cms_grid")
    assert(got.filter(col("window_us") === 0L).count() > 0,
      "hour-0 grid must be finalized and emitted")
    // batch ≡ stream on every closed window: identical plan, same rows
    val batch = Streams.cmsGridPerWindow(docs.toDF())
    assert(got.except(batch).count() === 0 && batch.except(got).count() === 0,
      "streamed grid diverged from the batch grid")
    // grid mass: each of the 4 rows of a window's grid counts every token
    // exactly once — hour-0 carries docs 1-3 (9 tokens)
    val mass = got.filter(col("window_us") === 0L)
      .groupBy("j").agg(sum("cnt").as("m")).select("m")
      .as[Long].collect().toSet
    assert(mass === Set(9L), s"per-row grid mass must equal window tokens: $mass")
  }

  test("windowed Heaps points equal the batch reduction on an out-of-order feed") {
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    val docs = Seq(
      StreamingSpec.Doc(1, "spark spark flink", ts(1)),
      StreamingSpec.Doc(2, "alpha beta spark", ts(40)),
      StreamingSpec.Doc(3, "beta beta gamma", ts(35)), // late, inside watermark
      StreamingSpec.Doc(4, "delta epsilon", ts(65)))
    val q = Streams.heapsPerWindow(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("heaps_win").start()
    ms.addData(docs(0), docs(1))
    q.processAllAvailable()
    ms.addData(docs(2), docs(3))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Doc(99, "flush", ts(190)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("heaps_win")
    // hour 0 carries docs 1-3: 9 tokens over 5 types
    val w0 = got.filter(col("window_us") === 0L)
      .select("n_tokens", "n_types").as[(Long, Long)].collect()
    assert(w0.toSeq === Seq((9L, 5L)), s"hour-0 Heaps point: ${w0.toSeq}")
    val batch = Streams.heapsPerWindow(docs.toDF())
    assert(got.except(batch).count() === 0 && batch.except(got).count() === 0,
      "streamed Heaps points diverged from the batch reduction")
  }

  test("windowed assortativity equals batch through the stream-stream-join chain") {
    // the 4-stateful-operator pipeline (two windowed aggs → ONE window-
    // equality join → re-windowed closing agg; the oracle's second join
    // is folded into the per-head moment aggregate) on an out-of-order
    // multi-trigger edge feed. Hour 0 is a planted 3-leaf star — the
    // perfectly DISASSORTATIVE graph, r = −1 exactly; hour 1 is a path
    // with a doubled edge, exercising multi-edge weighting (r = −0.8).
    val ms = MemoryStream[StreamingSpec.Edge](spark)
    val edges = Seq(
      StreamingSpec.Edge(ts(50), 1, 101),
      StreamingSpec.Edge(ts(55), 1, 102),
      StreamingSpec.Edge(ts(61), 1, 2),
      StreamingSpec.Edge(ts(58), 1, 103), // late hour-0 edge, inside watermark
      StreamingSpec.Edge(ts(65), 1, 2),   // doubled edge
      StreamingSpec.Edge(ts(70), 2, 3))
    val q = Streams.assortativityPerWindow(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("assort_win").start()
    ms.addData(edges(0), edges(1), edges(2))
    q.processAllAvailable()
    ms.addData(edges(3), edges(4), edges(5))
    q.processAllAvailable()
    // closing a window must cascade through FOUR stateful operators, each
    // holding results one microbatch behind the watermark — two flush
    // triggers give the chain the batches it needs to drain
    ms.addData(StreamingSpec.Edge(ts(190), 9, 10))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Edge(ts(400), 9, 10))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("assort_win")
    val w = got.filter(col("window_us") < 7200000000L)
      .select("window_us", "n_endpoints", "assortativity")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(w.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((0L, 6L, -1.0), (3600000000L, 6L, -0.8)),
      s"closed windows: ${w.toSeq}")
    // batch ≡ stream over every edge whose window the stream closed (the
    // planted hours plus the first flush edge; the second flush's own
    // window never finalizes and is excluded from both sides)
    val batch = Streams.assortativityPerWindow(
      (edges :+ StreamingSpec.Edge(ts(190), 9, 10)).toDF())
    assert(got.except(batch).count() === 0 && batch.except(got).count() === 0,
      "streamed assortativity diverged from the batch twin")
  }

  test("windowed assortativity drops beyond-watermark edges") {
    // the state-boundedness claim's other half: an edge arriving AFTER
    // the watermark passed its window is filtered at the first stateful
    // operator — its window never materializes (where the batch twin
    // would emit it), so closed-window state really is evictable
    val ms = MemoryStream[StreamingSpec.Edge](spark)
    val q = Streams.assortativityPerWindow(ms.toDF()).writeStream
      .outputMode("append").format("memory").queryName("assort_late").start()
    ms.addData(StreamingSpec.Edge(ts(200), 1, 2), StreamingSpec.Edge(ts(205), 1, 3))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Edge(ts(30), 7, 8)) // hour 0 — far past watermark
    q.processAllAvailable()
    ms.addData(StreamingSpec.Edge(ts(400), 9, 10))
    q.processAllAvailable()
    ms.addData(StreamingSpec.Edge(ts(600), 9, 10))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("assort_late")
      .select("window_us", "n_endpoints", "assortativity").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(!got.exists(_._1 == 0L),
      s"beyond-watermark hour-0 edge leaked into ${got.toSeq}")
    // the live hour-3 star (1-2, 1-3) still closes exactly
    assert(got.contains((10800000000L, 4L, Some(-1.0))),
      s"hour-3 window missing: ${got.toSeq}")
  }

  test("streaming geofence equals the batch bbox filter over synthesized segments") {
    val ms = MemoryStream[Event](spark)
    val events = loadEvents
    val q = Streams.geofence(
      graft.ops.Segments.fromEvents(ms.toDF()), -134.0, -132.5, 50.0, 52.0)
      .select("segmentid", "endlon", "endlat")
      .writeStream.outputMode("append").format("memory").queryName("geofence").start()
    ms.addData(events.take(events.size / 2))
    q.processAllAvailable()
    ms.addData(events.drop(events.size / 2))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("geofence")
    val want = SparkEntry.queries("q_spatial_bbox")(spark, sfDir)
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0,
      "streaming geofence diverged from the batch bbox query")
  }

  test("stream metrics listener records per-batch rows, state size and watermark") {
    val listener = new StreamMetricsListener
    spark.streams.addListener(listener)
    try {
      val ms = MemoryStream[Event](spark)
      def ev(id: Long, min: Long) = Event(id, ts(min), 1L, "x", 1.0, "{}")
      val q = Streams.tumblingHourly(ms.toDF()).writeStream
        .outputMode("append").format("memory").queryName("obs_stream").start()
      ms.addData(ev(1, 5), ev(2, 30))
      q.processAllAvailable()
      ms.addData(ev(3, 300))
      q.processAllAvailable()
      q.stop()
      // streaming listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10000000000L
      def recorded = listener.snapshot.getOrElse("obs_stream", Nil)
      while (recorded.map(_.inputRows).sum < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val got = recorded
      assert(got.map(_.inputRows).sum === 3, s"missing batches: $got")
      // the windowed aggregation holds state; the watermark advanced
      assert(got.exists(_.stateRows > 0), s"no state recorded: $got")
      assert(got.exists(_.watermark.nonEmpty), s"no watermark recorded: $got")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming drift grid equals batch q_drift_daily on an out-of-order feed") {
    // deal the real event log into 3 triggers in HASH order (not time
    // order): day counts arrive scattered across triggers, and late
    // arrivals must fold in additively
    val events = loadEvents
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.size + 2) / 3).toSeq
    val ms = MemoryStream[Event](spark)
    var grid: DataFrame = null
    val fold = Streams.dayTypeFold(g => grid = g.localCheckpoint())
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) => fold.step(batch, id) }
      .start()
    thirds.foreach { t => ms.addData(t); q.processAllAvailable() }
    q.stop()
    val streamed = ops.Advanced.driftFromCounts(grid)
    val batch = SparkEntry.queries("q_drift_daily")(spark, sfDir)
    assert(streamed.except(batch).count() === 0 &&
      batch.except(streamed).count() === 0,
      "incrementally maintained drift diverged from the batch query")
  }

  test("streaming NB classification against the frozen model equals batch scoring") {
    // train once on the corpus (the frozen-model serve shape), then feed
    // the same docs back through a 3-trigger hash-ordered stream — every
    // prediction and score must equal the batch scorer doc-for-doc
    val docsTable = Tables.documents(spark, sfDir)
    val (grid, cls) = graft.ops.LM.nbModel(docsTable)
    val (gridF, clsF) = (grid.localCheckpoint(), cls.localCheckpoint())
    val docs = docsTable.select("doc_id", "text").collect()
      .map(r => StreamingSpec.Doc(r.getLong(0), r.getString(1), ts(1)))
    val dealt = docs.sortBy(d => d.doc_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.length + 2) / 3).toSeq
    val ms = MemoryStream[StreamingSpec.Doc](spark)
    val preds = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val out = graft.ops.LM.nbScore(batch, gridF, clsF).collect()
        preds.synchronized {
          out.foreach(r => preds(r.getLong(0)) = (r.getString(1), r.getLong(2)))
        }
      }.start()
    thirds.foreach { t => ms.addData(t.toSeq); q.processAllAvailable() }
    q.stop()
    val batch = graft.ops.LM.nbScore(docsTable, gridF, clsF).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(preds.toMap === batch,
      "streamed NB predictions diverged from batch scoring")
  }

  test("streaming daily-cents grid yields the batch EWMA trajectory") {
    // hash-dealt 3-trigger feed: cents fold additively into the grid;
    // the EWMA view over the final grid must equal q_ewma_daily exactly
    val events = loadEvents
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.size + 2) / 3).toSeq
    val ms = MemoryStream[Event](spark)
    var grid: DataFrame = null
    val fold = Streams.dailyCentsFold(g => grid = g.localCheckpoint())
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) => fold.step(batch, id) }
      .start()
    thirds.foreach { t => ms.addData(t); q.processAllAvailable() }
    q.stop()
    val streamed = ops.Advanced.ewmaFromDaily(grid)
    val batch = SparkEntry.queries("q_ewma_daily")(spark, sfDir)
    assert(streamed.except(batch).count() === 0 &&
      batch.except(streamed).count() === 0,
      "incrementally maintained EWMA diverged from the batch trajectory")
  }

  test("streaming boilerplate strip against the frozen index equals the batch strip") {
    // index = the corpus's df >= BoilMinDf template chunks, frozen; the
    // feed re-ingests two documents the batch plane PROVABLY strips plus
    // one it does not, dealt across two triggers out of id order
    val docsTable = Tables.documents(spark, sfDir)
    val index = ops.Curation.boilerChunksOf(docsTable).cache()
    try {
      val byStrip = ops.Curation.boilerplateStripFrom(docsTable)
        .select("doc_id", "n_boiler").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stripped   = byStrip.filter(_._2 > 0).keys.toSeq.sorted.take(2)
      val unstripped = byStrip.filter(_._2 === 0).keys.toSeq.sorted.take(1)
      assert(stripped.size === 2, "fixture must have >= 2 stripped docs")
      val texts = docsTable.filter(col("doc_id").isin(stripped ++ unstripped: _*))
        .select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val feed = texts.zipWithIndex.map { case ((id, src, txt), i) =>
        StreamingSpec.BDoc(id, src, txt, ts(i + 1)) }
      val ms = MemoryStream[StreamingSpec.BDoc](spark)
      val got = scala.collection.mutable.Map.empty[Long, (Long, Long, String)]
      val q = Streams.boilerStripIngest(index, ms.toDF()) { out =>
        got.synchronized {
          out.select("doc_id", "n_chunks", "n_boiler", "text_clean").collect()
            .foreach(r => got(r.getLong(0)) =
              (r.getLong(1), r.getLong(2), r.getString(3)))
        }
      }
      ms.addData(feed(2), feed(0)) // out of id order
      q.processAllAvailable()
      ms.addData(feed(1))
      q.processAllAvailable()
      q.stop()
      import spark.implicits._
      val batch = ops.Curation.stripAgainst(index, feed.toSeq.toDF())
        .select("doc_id", "n_chunks", "n_boiler", "text_clean").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      assert(got.toMap === batch, "streamed strip diverged from batch strip")
      // the frozen index reproduces the full-corpus decisions for these docs
      stripped.foreach(id => assert(batch(id)._2 > 0L, s"doc $id must strip"))
      unstripped.foreach(id => assert(batch(id)._2 === 0L))
    } finally index.unpersist()
  }

  test("boilerplate index decay: cross-batch template trips the rebuild gate; rebuilt strip equals batch") {
    import spark.implicits._
    // controlled corpus (ChunkLen-token chunks): template T1 in 3 pre-
    // freeze docs (the frozen index), template T2 arriving ONE DOC PER
    // BATCH post-freeze — each batch alone leaves its df below BoilMinDf,
    // so the frozen index can never learn it: the documented miss class
    def doc(id: Long, tmpl: String, uniq: String): StreamingSpec.BDoc =
      StreamingSpec.BDoc(id, "s",
        ((1 to ops.Curation.ChunkLen).map(i => s"$tmpl$i") ++
          (1 to ops.Curation.ChunkLen).map(i => s"$uniq-$i")).mkString(" "),
        ts(id))
    val pre = Seq(doc(1, "t1x", "u1"), doc(2, "t1x", "u2"), doc(3, "t1x", "u3"))
    val index = ops.Curation.boilerChunksOf(pre.toDF()).cache()
    try {
      assert(index.count() === 1L, "fixture: frozen index must be exactly T1")
      val arrivals = Seq(doc(10, "t2y", "u10"), doc(11, "t2y", "u11"),
        doc(12, "t2y", "u12"))
      val ms = MemoryStream[StreamingSpec.BDoc](spark)
      val outBoiler = scala.collection.mutable.Map.empty[Long, Long]
      val (q, fold) = Streams.boilerStripIngestTracked(index, ms.toDF()) { out =>
        outBoiler.synchronized {
          out.select("doc_id", "n_boiler").collect()
            .foreach(r => outBoiler(r.getLong(0)) = r.getLong(1))
        }
      }
      // two arrivals: T2 df = 2 < BoilMinDf — healthy, no rebuild
      ms.addData(arrivals(0)); q.processAllAvailable()
      ms.addData(arrivals(1)); q.processAllAvailable()
      val h2 = fold.health
      assert(h2.missedTemplates === 0L && !h2.needsRebuild,
        s"gate fired below the df threshold: $h2")
      // third arrival crosses the threshold ACROSS batches: gate fires
      ms.addData(arrivals(2)); q.processAllAvailable()
      val h3 = fold.health
      assert(h3.missedTemplates === 1L && h3.missedDocHits === 3L &&
        h3.needsRebuild, s"cross-batch template not flagged: $h3")
      q.stop()
      // the frozen face shipped the T2 docs unstripped — the measured miss
      assert(arrivals.forall(a => outBoiler(a.doc_id) === 0L),
        s"frozen index should miss T2: $outBoiler")
      // explicit rebuild on the full corpus: stripping now equals the
      // batch q_boilerplate_strip kernel and T2 is template everywhere
      val full = (pre ++ arrivals).toDF()
      val rebuilt = ops.Curation.stripAgainst(
        ops.Curation.boilerChunksOf(full), full)
        .select("doc_id", "n_boiler", "text_clean").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      val batch = ops.Curation.boilerplateStripFrom(full)
        .select("doc_id", "n_boiler", "text_clean").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(rebuilt === batch, "rebuilt strip diverged from the batch kernel")
      arrivals.foreach(a => assert(rebuilt(a.doc_id)._1 === 1L &&
        !rebuilt(a.doc_id)._2.contains("t2y"),
        s"rebuilt index must strip T2 from doc ${a.doc_id}"))
      // replay safety: re-delivering the open batch must not double-count
      val fold2 = new Streams.BoilerFold(index, _ => ())
      fold2.step(Seq(arrivals(0)).toDF(), 0L)
      fold2.step(Seq(arrivals(1)).toDF(), 1L)
      fold2.step(Seq(arrivals(1)).toDF(), 1L) // replay
      fold2.step(Seq(arrivals(2)).toDF(), 2L)
      assert(fold2.health === h3,
        "replayed trigger double-counted the chunk dfs")
    } finally index.unpersist()
  }

  test("sketched boilerplate decay fold: bounded state, gate trips with the exact fold, never early") {
    import spark.implicits._
    // same miss-class fixture as the exact decay test, extended to 5
    // arrivals so the Misra–Gries compaction (k=4 < 6 distinct chunks)
    // actually cuts: the heavy template must survive the cuts and trip
    // the gate at the SAME trigger as the exact fold, while the state
    // stays ≤ k rows — the 100 TB shape for the unbounded decay feed
    def doc(id: Long, tmpl: String, uniq: String): StreamingSpec.BDoc =
      StreamingSpec.BDoc(id, "s",
        ((1 to ops.Curation.ChunkLen).map(i => s"$tmpl$i") ++
          (1 to ops.Curation.ChunkLen).map(i => s"$uniq-$i")).mkString(" "),
        ts(id))
    val pre = Seq(doc(1, "t1x", "u1"), doc(2, "t1x", "u2"), doc(3, "t1x", "u3"))
    val index = ops.Curation.boilerChunksOf(pre.toDF()).cache()
    try {
      val k = 4
      val arrivals = (10L to 14L).map(i => doc(i, "t2y", s"u$i"))
      val exact    = new Streams.BoilerFold(index, _ => ())
      val sketched = new Streams.BoilerFold(index, _ => (), None, Some(k))
      arrivals.zipWithIndex.foreach { case (a, i) =>
        exact.step(Seq(a).toDF(), i.toLong)
        sketched.step(Seq(a).toDF(), i.toLong)
        val rows = sketched.seen.map(_.count()).getOrElse(0L)
        assert(rows <= k, s"sketched state $rows rows > k=$k at trigger $i")
        val (he, hs) = (exact.health, sketched.health)
        // MG estimates are ≤ true counts: the sketched gate may trip
        // late, never before the exact one
        assert(!hs.needsRebuild || he.needsRebuild,
          s"sketched gate fired before exact at trigger $i: $hs vs $he")
        // on this fixture (template mass ≫ n/(k+1)=2) it must ALSO not
        // trip late: both fire exactly when the template df crosses 3
        assert(hs.needsRebuild === (i >= 2),
          s"sketched gate at trigger $i: $hs (expected trip iff i >= 2)")
      }
      // the compaction genuinely ran: 6 distinct chunks crossed the fold
      // but the state holds at most k
      assert(sketched.seen.get.count() <= k)
      // replay safety rides the GridFold protocol: re-deliver the open
      // batch — health must not move
      val h5 = sketched.health
      sketched.step(Seq(arrivals.last).toDF(), 4L)
      assert(sketched.health === h5,
        "replayed trigger moved the sketched decay state")
    } finally index.unpersist()
  }

  test("sketched decay fold state is durable: restart + replay-across-restart equal an uninterrupted fold") {
    import spark.implicits._
    // the Misra-Gries compaction is deterministic (rank by estimate with
    // key tie-breaks, fixed cut), so the durable (base, last) protocol
    // must reproduce the uninterrupted sketched fold exactly across a
    // process restart and a replay across that restart — under the same
    // <= k state bound
    def doc(id: Long, tmpl: String, uniq: String): StreamingSpec.BDoc =
      StreamingSpec.BDoc(id, "s",
        ((1 to ops.Curation.ChunkLen).map(i => s"$tmpl$i") ++
          (1 to ops.Curation.ChunkLen).map(i => s"$uniq-$i")).mkString(" "),
        ts(id))
    val pre = Seq(doc(1, "t1x", "u1"), doc(2, "t1x", "u2"), doc(3, "t1x", "u3"))
    val index = ops.Curation.boilerChunksOf(pre.toDF()).cache()
    try {
      val k = 4
      val arrivals = (10L to 14L).map(i => doc(i, "t2y", s"u$i"))
      def b(i: Int) = Seq(arrivals(i)).toDF()
      val dir = java.nio.file.Files.createTempDirectory("boilsketch").toString
      val f1 = new Streams.BoilerFold(index, _ => (), Some(dir), Some(k))
      f1.step(b(0), 0L)
      f1.step(b(1), 1L)
      f1.step(b(1), 1L) // replayed trigger
      // process restart: a fresh fold over the same stateDir
      val f2 = new Streams.BoilerFold(index, _ => (), Some(dir), Some(k))
      f2.step(b(2), 2L)
      f2.step(b(2), 2L) // replay across the restart
      f2.step(b(3), 3L)
      f2.step(b(4), 4L)
      // the uninterrupted reference (same k, no durability)
      val ref = new Streams.BoilerFold(index, _ => (), None, Some(k))
      arrivals.indices.foreach(i => ref.step(b(i), i.toLong))
      assert(f2.health === ref.health,
        "durable sketched fold diverged from the uninterrupted fold")
      assert(f2.health.needsRebuild, "gate lost across the restart")
      assert(f2.seen.get.count() <= k,
        "restored sketched state exceeded the k bound")
      val got = f2.seen.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = ref.seen.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want, "restored MG counters diverged row-for-row")
      assert(!f2.docReingestSuspected,
        "the durable doc tripwire false-fired across restart + replay")
    } finally index.unpersist()
  }

  test("boiler fold restored from a pre-upgrade stateDir backfill-disables the tripwire, re-arms on restart") {
    import spark.implicits._
    // pre-upgrade state: the dfs dir is populated but the '-docsum'/
    // '-dochll' companion dirs don't exist. Restoring must not compare
    // a post-upgrade partial sum against a partial HLL (quiet but
    // meaningless) — the tripwire disables itself for that run, then a
    // restart (companions now committed from the same point) re-arms it
    def doc(id: Long, tmpl: String, uniq: String): StreamingSpec.BDoc =
      StreamingSpec.BDoc(id, "s",
        ((1 to ops.Curation.ChunkLen).map(i => s"$tmpl$i") ++
          (1 to ops.Curation.ChunkLen).map(i => s"$uniq-$i")).mkString(" "),
        ts(id))
    val index = ops.Curation.boilerChunksOf(
      Seq(doc(1, "t1x", "u1"), doc(2, "t1x", "u2"), doc(3, "t1x", "u3"))
        .toDF()).cache()
    try {
      val k = 4
      def b(ids: Long*) = ids.map(i => doc(i, "t2y", s"u$i")).toDF()
      val dir = java.nio.file.Files.createTempDirectory("boilmigr").toString
      val f1 = new Streams.BoilerFold(index, _ => (), Some(dir), Some(k))
      f1.step(b(10L, 11L), 0L)
      assert(!f1.tripwireDisabled,
        "a fresh (no prior state) durable fold must arm the tripwire")
      // simulate the pre-upgrade layout: drop the companion dirs only
      for (suffix <- Seq(Streams.DocSumSuffix, Streams.DocHllSuffix)) {
        val p = new org.apache.hadoop.fs.Path(dir + suffix)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
      val f2 = new Streams.BoilerFold(index, _ => (), Some(dir), Some(k))
      f2.step(b(12L, 13L), 1L)
      assert(f2.tripwireDisabled,
        "restore over a populated dfs dir with missing companions " +
          "must disable the tripwire")
      // even a gross re-ingest stays quiet this run — the honest answer
      // for an unobserved prefix, never a page on partial evidence
      f2.step(b(12L, 13L), 2L)
      f2.step(b(12L, 13L), 3L)
      assert(!f2.docReingestSuspected,
        "backfill-disabled tripwire paged on partial post-upgrade state")
      // restart: all three dirs now have committed state from the same
      // suffix — the tripwire re-arms and catches a fresh violation
      val f3 = new Streams.BoilerFold(index, _ => (), Some(dir), Some(k))
      f3.step(b(14L, 15L), 4L)
      assert(!f3.tripwireDisabled,
        "tripwire failed to re-arm once companion state exists")
    } finally index.unpersist()
  }

  test("boiler fold doc re-ingest tripwire: quiet under the contract, trips on gross re-ingest") {
    import spark.implicits._
    def doc(id: Long, tmpl: String, uniq: String): StreamingSpec.BDoc =
      StreamingSpec.BDoc(id, "s",
        ((1 to ops.Curation.ChunkLen).map(i => s"$tmpl$i") ++
          (1 to ops.Curation.ChunkLen).map(i => s"$uniq-$i")).mkString(" "),
        ts(id))
    val index = ops.Curation.boilerChunksOf(
      Seq(doc(1, "t1x", "u1"), doc(2, "t1x", "u2"), doc(3, "t1x", "u3"))
        .toDF()).cache()
    try {
      val b0 = Seq(doc(10, "t2y", "u10"), doc(11, "t2y", "u11"))
      val b1 = Seq(doc(12, "t2y", "u12"), doc(13, "t2y", "u13"))
      val fold = new Streams.BoilerFold(index, _ => ())
      fold.step(b0.toDF(), 0L)
      fold.step(b1.toDF(), 1L)
      assert(!fold.docReingestSuspected,
        "tripwire fired on a contract-abiding feed")
      // a replayed trigger (same id) is absorbed by the protocol — quiet
      fold.step(b1.toDF(), 1L)
      assert(!fold.docReingestSuspected,
        "tripwire fired on a replayed (same-id) trigger")
      // gross violation: the SAME docs re-ingested under NEW batch ids
      // double the exact per-batch distinct-doc sum while the HLL over
      // doc ids stays put — the 1.5× envelope gate must fire
      fold.step(b0.toDF(), 2L)
      fold.step(b1.toDF(), 3L)
      assert(fold.docReingestSuspected,
        "tripwire silent while every doc was ingested twice")
    } finally index.unpersist()
  }

  test("hot-terms fold: per-window MG guarantees under bounded composed state, retention + replay safe") {
    import spark.implicits._
    val docs = Seq(
      StreamingSpec.Doc(1, "spark spark spark flink alpha", ts(1)),
      StreamingSpec.Doc(2, "spark flink beta gamma", ts(30)),
      StreamingSpec.Doc(3, "spark delta epsilon", ts(50)),
      StreamingSpec.Doc(4, "iceberg iceberg hudi", ts(70)),
      StreamingSpec.Doc(5, "iceberg delta hudi zeta", ts(100)),
      StreamingSpec.Doc(6, "kafka kafka pulsar", ts(130)))
    val parts = docs.grouped(2).toSeq.map(_.toDS().toDF())
    val k = 3
    var out: DataFrame = null
    val fold = Streams.hotTermsFold(k, f => out = f.localCheckpoint())
    fold.step(parts(0), 0L)
    fold.step(parts(1), 1L)
    val snap1 = out
    fold.step(parts(1), 1L) // replayed trigger: grid must not move
    assert(out.except(snap1).count() === 0 &&
      snap1.except(out).count() === 0,
      "replayed trigger moved the hot-terms grid")
    fold.step(parts(2), 2L)
    // composed state bound: <= k counters per window, every window
    out.groupBy("window_us").count().collect().foreach(r =>
      assert(r.getLong(1) <= k,
        s"window ${r.getLong(0)} holds ${r.getLong(1)} > k=$k counters"))
    // MG guarantees per window vs the exact batch counts: estimates
    // never exceed truth; every token with true count > n_w/(k+1) is
    // present (the no-false-negative heavy-hitter guarantee)
    val exact = docs.toDS().toDF()
      .select(col("ingest_ts"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(window(col("ingest_ts"), "1 hour"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("window_us"),
        col("tok"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val nW = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { case (key, est) =>
      assert(est <= exact(key),
        s"estimate $est exceeds true count ${exact(key)} for $key")
    }
    exact.foreach { case ((w, t), c) =>
      if (c * (k + 1) > nW(w))
        assert(got.contains((w, t)),
          s"heavy token $t (count $c of ${nW(w)}) missing from window $w")
    }
    // retention composition: newest-2 windows only, still <= k per window
    var out2: DataFrame = null
    val fold2 = Streams.hotTermsFold(k,
      f => out2 = f.localCheckpoint(), None, Some(2))
    parts.zipWithIndex.foreach { case (p, i) => fold2.step(p, i.toLong) }
    val wins = out2.select("window_us").distinct()
      .collect().map(_.getLong(0)).sorted
    val allWins = exact.keySet.map(_._1).toSeq.sorted
    assert(wins.toSeq === allWins.takeRight(2),
      s"retention kept $wins, expected the 2 newest of $allWins")
    out2.groupBy("window_us").count().collect().foreach(r =>
      assert(r.getLong(1) <= k))
  }

  test("hot-terms fold restart drill: durable state survives a mid-stream cut, MG guarantees hold across it") {
    import spark.implicits._
    // the retrain-swap drill class applied to the hot-terms plane: kill
    // the fold mid-stream at an arbitrary trigger boundary, restore from
    // the durable stateDir, keep folding — the final grid must equal an
    // uninterrupted fold row-for-row (MG compaction is deterministic:
    // rank with key tie-breaks, fixed cut), a replay straddling the cut
    // must be absorbed, and the per-window MG envelope (est ≤ true,
    // every heavy token present, ≤ k counters) must hold on the restored
    // state as if no restart happened
    val docs = Seq(
      StreamingSpec.Doc(1, "spark spark spark flink alpha", ts(1)),
      StreamingSpec.Doc(2, "spark flink beta gamma", ts(30)),
      StreamingSpec.Doc(3, "spark delta epsilon", ts(50)),
      StreamingSpec.Doc(4, "iceberg iceberg hudi", ts(70)),
      StreamingSpec.Doc(5, "iceberg delta hudi zeta", ts(100)),
      StreamingSpec.Doc(6, "kafka kafka pulsar spark spark", ts(130)))
    val parts = docs.grouped(2).toSeq.map(_.toDS().toDF())
    val k = 3
    val dir = java.nio.file.Files.createTempDirectory("hotterms").toString
    var out: DataFrame = null
    val f1 = Streams.hotTermsFold(k, f => out = f.localCheckpoint(), Some(dir))
    f1.step(parts(0), 0L)
    f1.step(parts(1), 1L)
    // mid-stream cut: a fresh fold restores from the committed state
    val f2 = Streams.hotTermsFold(k, f => out = f.localCheckpoint(), Some(dir))
    f2.step(parts(1), 1L) // replay ACROSS the restart: must be absorbed
    f2.step(parts(2), 2L)
    // uninterrupted reference (same k, no durability)
    var ref: DataFrame = null
    val r = Streams.hotTermsFold(k, f => ref = f.localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) => r.step(p, i.toLong) }
    assert(out.except(ref).count() === 0 && ref.except(out).count() === 0,
      "restarted hot-terms fold diverged from the uninterrupted fold")
    // the per-window guarantee on the RESTORED state, vs exact counts
    val exact = docs.toDS().toDF()
      .select(col("ingest_ts"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(window(col("ingest_ts"), "1 hour"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("window_us"),
        col("tok"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val nW = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { case (key, est) =>
      assert(est <= exact(key),
        s"post-restart estimate $est exceeds true ${exact(key)} for $key")
    }
    exact.foreach { case ((w, t), c) =>
      if (c * (k + 1) > nW(w))
        assert(got.contains((w, t)),
          s"heavy token $t (count $c of ${nW(w)}) lost across the restart")
    }
    out.groupBy("window_us").count().collect().foreach(r =>
      assert(r.getLong(1) <= k,
        s"window ${r.getLong(0)} exceeded k=$k counters after restart"))
  }

  test("cms fold window retention caps state at the newest windows, cells intact") {
    import spark.implicits._
    val docs = Seq(
      StreamingSpec.Doc(1, "spark spark flink", ts(1)),
      StreamingSpec.Doc(2, "alpha beta spark", ts(40)),
      StreamingSpec.Doc(3, "beta beta gamma", ts(35)),
      StreamingSpec.Doc(4, "delta epsilon", ts(65)),
      StreamingSpec.Doc(5, "gamma gamma", ts(130)),
      StreamingSpec.Doc(6, "spark", ts(100)))
    // three 1-hour windows (0, 1, 2); retention 2 must keep exactly the
    // two NEWEST and leave their cells equal to the batch grid — the
    // retention cut bounds state without corrupting surviving windows
    val parts = docs.grouped(2).toSeq.map(_.toDS().toDF())
    var out: DataFrame = null
    val fold = Streams.cmsFold(f => out = f.localCheckpoint(), None, Some(2))
    parts.zipWithIndex.foreach { case (p, i) => fold.step(p, i.toLong) }
    val wins = out.select("window_us").distinct()
      .collect().map(_.getLong(0)).sorted
    val batch = Streams.cmsGridPerWindow(docs.toDS().toDF())
    val allWins = batch.select("window_us").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(allWins.length === 3, s"fixture needs 3 windows, got $allWins")
    assert(wins.toSeq === allWins.takeRight(2).toSeq,
      s"retention kept $wins, expected the 2 newest of $allWins")
    val expected = batch.filter(col("window_us") >= allWins.takeRight(2).head)
    assert(out.except(expected).count() === 0 &&
      expected.except(out).count() === 0,
      "retained windows' CMS cells diverged from the batch grid")
  }

  test("drift feed: after-era scores below the frozen lo land in negative buckets and trip the gate") {
    import spark.implicits._
    // baseline era = the TOP 40% of pc1 scores (a biased launch corpus);
    // the live era drifts LOW — scores below the frozen lo must land in
    // floored NEGATIVE diagnostic buckets (never merge into bucket 0)
    // and the streamed report must still equal the batch kernel
    val emb = Tables(spark, sfDir, "embeddings")
    val (mu, cov) = ops.Clustering.pcaModel(ops.Clustering.vmOf(emb))
    val v1 = ops.Clustering.pcaTrajectory(cov).last
    val scores = emb.select(col("vec_id"),
      ops.Clustering.pcScoreCol(mu, v1).as("pc1")).localCheckpoint()
    val sorted = scores.select("pc1").collect().map(_.getLong(0)).sorted
    val t = sorted(sorted.length * 3 / 5) // 60th percentile
    val beforeScores = scores.filter(col("pc1") >= t)
    val g = beforeScores.agg(min("pc1"), max("pc1")).head()
    val (lo, width) = (g.getLong(0), g.getLong(1) - g.getLong(0) + 1)
    val before = ops.Clustering.pcScoreHist(beforeScores, lo, width)
      .localCheckpoint()
    val lows = emb.join(scores.filter(col("pc1") < t).select("vec_id"),
        Seq("vec_id"))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => StreamingSpec.Vec(id, e) }
    assert(lows.nonEmpty, "fixture must have sub-threshold vectors")
    val parts = lows.grouped((lows.length + 1) / 2).toSeq
      .map(_.toSeq.toDS().toDF())
    var out: DataFrame = null
    val fold = Streams.embedDriftFold(mu, v1, lo, width, before,
      f => out = f.localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) => fold.step(p, i.toLong) }
    val batch = ops.Clustering.embedDriftReport(before,
      ops.Clustering.pcScoreHist(
        scores.filter(col("pc1") < t).select("pc1"), lo, width))
    assert(out.except(batch).count() === 0 && batch.except(out).count() === 0,
      "streamed low-drift report diverged from the batch kernel")
    val negs = out.filter(col("bucket_idx") < 0)
    assert(negs.count() > 0,
      "sub-lo scores produced no negative diagnostic buckets")
    assert(negs.filter(col("drifted")).count() === negs.count(),
      "a bucket with after-era mass and zero before-era mass must drift")
  }

  test("live drift page triggers a mid-stream retrain + swap; the feed and serving stay consistent") {
    import spark.implicits._
    // the operational drill END-TO-END on the live plane: a displaced
    // source streams through the alert feed; the FIRST paged report
    // fires the needsRebuild action (retrain on base + everything fed
    // so far, swap the serving quantizer) while the fold keeps running —
    // afterwards the streamed alerts still equal the batch kernel over
    // the whole fed era (the swap did not disturb the monitor) and the
    // swapped index out-fits and out-serves the stale one
    val emb = Tables(spark, sfDir, "embeddings")
    val (mu, cov) = ops.Clustering.pcaModel(ops.Clustering.vmOf(emb))
    val v1 = ops.Clustering.pcaTrajectory(cov).last
    val beforeScores = emb.select(col("vec_id"),
      ops.Clustering.pcScoreCol(mu, v1).as("pc1")).localCheckpoint()
    val g = beforeScores.agg(min("pc1"), max("pc1")).head()
    val (lo, width) = (g.getLong(0), g.getLong(1) - g.getLong(0) + 1)
    val before = ops.Clustering.pcScoreHist(beforeScores, lo, width)
      .localCheckpoint()
    val shift = typedlit(v1.map(x =>
      (4.0 * x / ops.Clustering.PcVScale).toFloat).toSeq)
    val displaced = emb.select((col("vec_id") + 100000L).as("vec_id"),
      zip_with(col("embedding"), shift, (x, d) => x + d).as("embedding"))
      .localCheckpoint()
    val vecs = displaced.as[(Long, Seq[Float])].collect()
      .map { case (id, e) => StreamingSpec.Vec(id, e) }
    val parts = vecs.grouped((vecs.length + 1) / 2).toSeq
      .map(_.toSeq.toDS().toDF())
    val baseEmb = emb.select("vec_id", "embedding").localCheckpoint()
    val cents = ops.Similarity.kmeansCentroidsFrom(baseEmb)
    var fedSoFar: org.apache.spark.sql.DataFrame = null
    var swapped: Option[Array[Array[Double]]] = None
    var out: DataFrame = null
    val fold = Streams.embedDriftAlertFold(mu, v1, lo, width, before,
      { alerts =>
        out = alerts.localCheckpoint()
        if (out.count() > 0 && swapped.isEmpty)
          // the paged action: retrain on base + everything fed so far
          swapped = Some(ops.Similarity.kmeansCentroidsFrom(
            baseEmb.unionByName(fedSoFar)))
      })
    fedSoFar = parts(0).select("vec_id", "embedding").localCheckpoint()
    fold.step(parts(0), 0L)
    assert(swapped.nonEmpty,
      "the first displaced trigger did not page — no swap fired")
    fedSoFar = fedSoFar.unionByName(
      parts(1).select("vec_id", "embedding")).localCheckpoint()
    fold.step(parts(1), 1L) // the feed keeps folding AFTER the swap
    val batchAlerts = ops.Clustering.embedDriftAlerts(
      ops.Clustering.embedDriftReport(before,
        ops.Clustering.pcScoreHist(
          displaced.select(ops.Clustering.pcScoreCol(mu, v1).as("pc1")),
          lo, width)))
    assert(out.except(batchAlerts).count() === 0 &&
      batchAlerts.except(out).count() === 0,
      "post-swap streamed alerts diverged from the batch kernel")
    // the swapped quantizer fits and serves the grown corpus better
    val grown = baseEmb.unionByName(displaced).localCheckpoint()
    assert(SimilarityReference.quantScore(grown, swapped.get) >
      SimilarityReference.quantScore(grown, cents),
      "mid-stream retrain did not improve quantizer fit")
    // SERVING CONTINUITY across the swap boundary: the quantizer the
    // LIVE page actually installed (trained mid-stream on base + only
    // the era fed so far — not the full grown corpus the batch drill
    // trains on) must serve the final grown corpus within the same
    // 0.05-recall gate of staying on the stale index. This is the leg
    // the batch drill can't test: the swap decision point saw PARTIAL
    // drift, and serving must not regress for having acted early.
    def recallOf(ann: DataFrame, bf: DataFrame): Double =
      ann.select("p_id", "c_id").join(bf.select("p_id", "c_id"),
        Seq("p_id", "c_id"), "left_semi").count().toDouble /
        bf.count().toDouble
    val bf = ops.Similarity.cosineTopKFrom(grown)
    val rStale = recallOf(ops.Similarity.annIvfTopKIndexed(
      ops.Similarity.ivfAssign(grown, cents), cents), bf)
    val rSwap = recallOf(ops.Similarity.annIvfTopKIndexed(
      ops.Similarity.ivfAssign(grown, swapped.get), swapped.get), bf)
    assert(rSwap >= rStale - 0.05,
      s"the mid-stream swap regressed serving: stale $rStale -> swapped $rSwap")
  }

  test("drift alert stream: noise-floored pages equal the batch kernel; health closes the rebuild loop") {
    import spark.implicits._
    // model + frozen grid from a biased baseline era (top 40% of pc1);
    // the live era is the sub-threshold rest — a biased new source. The
    // alert composition must page on it, and a same-distribution era
    // must stay silent — the specificity leg of the needsRebuild loop.
    val emb = Tables(spark, sfDir, "embeddings")
    val (mu, cov) = ops.Clustering.pcaModel(ops.Clustering.vmOf(emb))
    val v1 = ops.Clustering.pcaTrajectory(cov).last
    val scores = emb.select(col("vec_id"),
      ops.Clustering.pcScoreCol(mu, v1).as("pc1")).localCheckpoint()
    val sorted = scores.select("pc1").collect().map(_.getLong(0)).sorted
    val t = sorted(sorted.length * 3 / 5)
    val beforeScores = scores.filter(col("pc1") >= t)
    val g = beforeScores.agg(min("pc1"), max("pc1")).head()
    val (lo, width) = (g.getLong(0), g.getLong(1) - g.getLong(0) + 1)
    val before = ops.Clustering.pcScoreHist(beforeScores, lo, width)
      .localCheckpoint()
    def vecsOf(pred: org.apache.spark.sql.Column): Array[StreamingSpec.Vec] =
      emb.join(scores.filter(pred).select("vec_id"), Seq("vec_id"))
        .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
        .map { case (id, e) => StreamingSpec.Vec(id, e) }
    val lows = vecsOf(col("pc1") < t)
    val parts = lows.grouped((lows.length + 1) / 2).toSeq
      .map(_.toSeq.toDS().toDF())
    var out: DataFrame = null
    val fold = Streams.embedDriftAlertFold(mu, v1, lo, width, before,
      f => out = f.localCheckpoint())
    fold.step(parts(0), 0L)
    fold.step(parts(0), 0L) // replayed trigger
    parts.drop(1).zipWithIndex.foreach { case (p, i) =>
      fold.step(p, i + 1L)
    }
    val batchRep = ops.Clustering.embedDriftReport(before,
      ops.Clustering.pcScoreHist(
        scores.filter(col("pc1") < t).select("pc1"), lo, width))
    val batchAlerts = ops.Clustering.embedDriftAlerts(batchRep)
    assert(out.except(batchAlerts).count() === 0 &&
      batchAlerts.except(out).count() === 0,
      "streamed alerts diverged from the batch q_drift_alerts kernel")
    assert(batchAlerts.count() > 0, "biased era must page")
    assert(ops.Clustering.embedDriftHealth(batchRep).needsRebuild,
      "health did not close the rebuild loop on a paged drift")
    // specificity: the SAME era the grid was frozen from must not page
    var quiet: DataFrame = null
    val fold2 = Streams.embedDriftAlertFold(mu, v1, lo, width, before,
      f => quiet = f.localCheckpoint())
    fold2.step(vecsOf(col("pc1") >= t).toSeq.toDS().toDF(), 0L)
    assert(quiet.count() === 0,
      "same-distribution era raised drift alerts — no specificity")
    val quietRep = ops.Clustering.embedDriftReport(before, before)
    assert(!ops.Clustering.embedDriftHealth(quietRep).needsRebuild,
      "health wants a rebuild on an identical era")
  }

  test("streaming cents histogram equals the batch sketch on an out-of-order feed") {
    // frozen geometry (the deployment calibration pass), hash-dealt
    // 3-trigger feed: the additive fold must converge to the batch
    // histogram regardless of arrival order
    val all = Tables.events(spark, sfDir)
      .select(round(col("value") * 100).cast("long").as("cents"))
    val mm = all.agg(min("cents"), max("cents")).head()
    val (lo, width) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
    val events = loadEvents
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.size + 2) / 3).toSeq
    val ms = MemoryStream[Event](spark)
    var grid: DataFrame = null
    val fold = Streams.histFold(lo, width, g => grid = g.localCheckpoint())
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) => fold.step(batch, id) }
      .start()
    thirds.foreach { t => ms.addData(t); q.processAllAvailable() }
    q.stop()
    val batch = ops.Sketches.centsHist(all, lo, width)
    assert(grid.except(batch).count() === 0 &&
      batch.except(grid).count() === 0,
      "incrementally maintained cents histogram diverged from the batch sketch")
  }

  test("cents histogram fold: replay-safe, restart-safe, replay across restart") {
    // the HistFold protocol: a re-delivered batch id replaces its
    // per-batch histogram (a plain additive merge would double-count),
    // and the committed (base, last) state survives a process restart
    val all = Tables.events(spark, sfDir)
      .select(round(col("value") * 100).cast("long").as("cents"))
    val mm = all.agg(min("cents"), max("cents")).head()
    val (lo, width) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
    val events = loadEvents
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.size + 2) / 3).toSeq
    import spark.implicits._
    def bdf(i: Int) = thirds(i).toDS().toDF()
    val dir = java.nio.file.Files.createTempDirectory("histfold").toString
    var out: org.apache.spark.sql.DataFrame = null
    val sink = (f: org.apache.spark.sql.DataFrame) => out = f.localCheckpoint()
    val fold = Streams.histFold(lo, width, sink, Some(dir))
    fold.step(bdf(0), 0L)
    fold.step(bdf(1), 1L)
    fold.step(bdf(1), 1L) // replayed trigger: must not double-count
    // process restart: a fresh fold over the same stateDir
    val fold2 = Streams.histFold(lo, width, sink, Some(dir))
    fold2.step(bdf(2), 2L)
    fold2.step(bdf(2), 2L) // replay across the restart
    val batch = ops.Sketches.centsHist(all, lo, width)
    assert(out.except(batch).count() === 0 &&
      batch.except(out).count() === 0,
      "HistFold state diverged from the batch sketch under replay + restart")
  }

  /** Drive a durable GridFold through the full survival gauntlet: a
    * replayed trigger, a process restart (fresh fold over the same
    * stateDir), a replay ACROSS the restart — then the folded grid must
    * equal the batch reference and GC must leave exactly one committed
    * state. Shared by every fold on the GridFold protocol.
    */
  private def gridFoldSurvives(what: String,
      mk: (org.apache.spark.sql.DataFrame => Unit,
        Option[String]) => Streams.GridFold,
      parts: Seq[org.apache.spark.sql.DataFrame],
      batchRef: org.apache.spark.sql.DataFrame): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(what).toString
    var out: org.apache.spark.sql.DataFrame = null
    val sink = (f: org.apache.spark.sql.DataFrame) => out = f.localCheckpoint()
    val fold = mk(sink, Some(dir))
    fold.step(parts(0), 0L)
    fold.step(parts(1), 1L)
    fold.step(parts(1), 1L) // replayed trigger
    val fold2 = mk(sink, Some(dir)) // process restart
    fold2.step(parts(2), 2L)
    fold2.step(parts(2), 2L) // replay across the restart
    assert(out.except(batchRef).count() === 0 &&
      batchRef.except(out).count() === 0,
      s"$what diverged from the batch grid under replay + restart")
    val states = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("state-")).toSeq
    assert(states === Seq(f"state-${2L}%020d"),
      s"$what GC left ${states.mkString(",")}")
  }

  test("embed drift live feed equals the shared batch kernel under replay + restart") {
    import spark.implicits._
    // frozen model + grid from the full corpus (the baseline era); the
    // live after-era is the even-vec_id half arriving over 3 triggers
    val emb = Tables(spark, sfDir, "embeddings")
    val (mu, cov) = ops.Clustering.pcaModel(ops.Clustering.vmOf(emb))
    val v1 = ops.Clustering.pcaTrajectory(cov).last
    val beforeScores = emb.select(col("vec_id"),
      ops.Clustering.pcScoreCol(mu, v1).as("pc1"))
    val g = beforeScores.agg(min("pc1"), max("pc1")).head()
    val (lo, width) = (g.getLong(0), g.getLong(1) - g.getLong(0) + 1)
    val before = ops.Clustering.pcScoreHist(beforeScores, lo, width)
      .localCheckpoint()
    val evens = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) => StreamingSpec.Vec(id, e) }
    val dealt = evens.sortBy(v => v.vec_id * 2654435761L % 997)
    val parts = dealt.grouped((dealt.size + 2) / 3).toSeq
      .map(_.toSeq.toDS().toDF())
    val dir = java.nio.file.Files.createTempDirectory("embeddrift").toString
    var out: org.apache.spark.sql.DataFrame = null
    val sink = (f: org.apache.spark.sql.DataFrame) => out = f.localCheckpoint()
    val fold = Streams.embedDriftFold(mu, v1, lo, width, before, sink, Some(dir))
    fold.step(parts(0), 0L)
    fold.step(parts(1), 1L)
    fold.step(parts(1), 1L) // replayed trigger
    val fold2 = Streams.embedDriftFold(mu, v1, lo, width, before, sink, Some(dir))
    fold2.step(parts(2), 2L) // across a process restart
    val batch = ops.Clustering.embedDriftReport(before,
      ops.Clustering.pcScoreHist(
        emb.filter(col("vec_id") % 2 === 0)
          .select(ops.Clustering.pcScoreCol(mu, v1).as("pc1")), lo, width))
    assert(out.except(batch).count() === 0 && batch.except(out).count() === 0,
      "streamed drift report diverged from the batch kernel")
    // same-distribution half-era: the report must not be all-drifted
    assert(out.filter(!col("drifted")).count() > 0,
      "every bucket drifted on a same-distribution era — no specificity")
  }

  test("durable daily-cents, HLL and CMS folds survive replay + restart; GC leaves one state") {
    import spark.implicits._
    val events = loadEvents
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val eParts = dealt.grouped((dealt.size + 2) / 3).toSeq
      .map(_.toDS().toDF())
    val all = events.toDS().toDF()
    gridFoldSurvives("dailycentsfold",
      Streams.dailyCentsFold(_, _), eParts,
      all.groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents")))
    gridFoldSurvives("hllfold",
      Streams.hllFold(_, _), eParts,
      ops.Sketches.hllRegistersFrom(all))
    val docs = Seq(
      StreamingSpec.Doc(1, "spark spark flink", ts(1)),
      StreamingSpec.Doc(2, "alpha beta spark", ts(40)),
      StreamingSpec.Doc(3, "beta beta gamma", ts(35)),
      StreamingSpec.Doc(4, "delta epsilon", ts(65)),
      StreamingSpec.Doc(5, "gamma gamma", ts(130)),
      StreamingSpec.Doc(6, "spark", ts(100)))
    val dParts = docs.grouped(2).toSeq.map(_.toDS().toDF())
    gridFoldSurvives("cmsfold",
      Streams.cmsFold(_, _), dParts,
      Streams.cmsGridPerWindow(docs.toDS().toDF()))
  }

  test("streaming HLL registers equal the batch sketch, even under replay") {
    // same dealing as the drift test — hash order, 3 triggers — PLUS the
    // middle trigger fed TWICE: max-merge is idempotent, so a replayed
    // batch (the at-least-once delivery case) must not move a register
    val events = loadEvents
    val dealt  = events.sortBy(e => e.event_id * 2654435761L % 997)
    val thirds = dealt.grouped((dealt.size + 2) / 3).toSeq
    val feed   = thirds.take(2) ++ Seq(thirds(1)) ++ thirds.drop(2)
    val ms = MemoryStream[Event](spark)
    var grid: DataFrame = null
    val fold = Streams.hllFold(g => grid = g.localCheckpoint())
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) => fold.step(batch, id) }
      .start()
    feed.foreach { t => ms.addData(t); q.processAllAvailable() }
    q.stop()
    val batch = ops.Sketches.hllRegistersFrom(
      Tables.events(spark, sfDir))
    assert(grid.except(batch).count() === 0 &&
      batch.except(grid).count() === 0,
      "incrementally maintained HLL registers diverged from the batch sketch")
  }
}

object StreamingSpec {
  case class Doc(doc_id: Long, text: String, ingest_ts: java.sql.Timestamp)
  case class BDoc(doc_id: Long, source: String, text: String,
      ingest_ts: java.sql.Timestamp)
  case class Vec(vec_id: Long, embedding: Seq[Float])
  case class Edge(ts: java.sql.Timestamp, v: Long, w: Long)
  case class Media(media_id: Long, kind: String, payload: Array[Byte])
}
