package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.StreamMetricsListener
import graft.ops.{PostingLines, Segments, Sinks}
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** The streaming plane, measured in `lines_etl`'s traced run. Open loop: a
  * generator adds seeded segment events every `TickMs` at a fixed rate,
  * whatever the engine does. Two queries read the same events: the
  * posting-lines pipeline into `Sinks.streamToPartitionedParquetExactlyOnce`,
  * and `Streams.sessionizeStateful`. Each event's latency runs from the time
  * its tick was due to the modification time of its batch's commit manifest.
  */
object LinesStream {
  val TickMs       = 100L
  val NominalRate  = 4000 // rows/s of the nominal streams
  val NominalRuns  = 2
  val StreamS      = 5.0
  val LadderRates  = Seq(8000, 32000, 128000)
  val LadderS      = 3.0
  val LatencyLimitS = 3.0

  final case class Progress(batchId: Long, endOffset: Long, rows: Long,
      durations: Map[String, Long])

  /** Micro-batch progress of every query, by query id. */
  final class ProgressListener extends StreamingQueryListener {
    val byQuery = TrieMap.empty[java.util.UUID, Vector[Progress]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val end = p.sources.headOption.map(_.endOffset).filter(_ != null)
          .map(_.trim.toLong).getOrElse(-1L)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        byQuery.updateWith(p.id)(xs =>
          Some(xs.getOrElse(Vector.empty) :+ Progress(p.batchId, end, p.numInputRows, d)))
      }
    }
  }

  final case class Add(offset: Long, dueMs: Double, addedMs: Double, rows: Int)

  final case class StreamRun(latencies: Seq[Double], wallS: Double, rows: Long,
      backlogAtEnd: Long, maxLateMs: Double, sinkBatches: Seq[Progress],
      sessionBatches: Seq[Progress], manifests: Int, out: String, added: Seq[Event])

  /** Nearest-rank 99th percentile. */
  def p99(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(math.ceil(0.99 * s.size).toInt - 1)
  }

  def probe(ctx: Bench.Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, s"${ctx.data}/stream").as[Event]
      .collect().sortBy(_.event_id)
    val pl = new ProgressListener
    val sm = new StreamMetricsListener
    spark.streams.addListener(pl)
    spark.streams.addListener(sm)
    var cursor = 0
    def take(n: Int): Array[Event] = {
      require(cursor + n <= events.length, "stream input exhausted")
      val s = events.slice(cursor, cursor + n); cursor += n; s
    }
    var runNo = 0
    def stream(rate: Int, seconds: Double): StreamRun = {
      runNo += 1
      val base = s"${ctx.work}/stream/run-$runNo"
      // one source per query: a MemoryStream drops data its reader has
      // committed, so two readers of one stream would race
      val ms   = MemoryStream[Event](spark)
      val ms2  = MemoryStream[Event](spark)
      val sink = Sinks.streamToPartitionedParquetExactlyOnce(
        PostingLines.mergedFrom(Segments.fromEvents(ms.toDF())), "starttime",
        s"$base/out", s"$base/ck-sink")
      val sess = Streams.sessionizeStateful(ms2.toDS()).toDF().writeStream
        .format("noop").outputMode("append")
        .option("checkpointLocation", s"$base/ck-sessions").start()
      val perTick = (rate * TickMs / 1000).toInt
      val ticks   = (seconds * 1000 / TickMs).toInt
      val adds    = ArrayBuffer.empty[Add]
      val added   = ArrayBuffer.empty[Event]
      val t0      = System.currentTimeMillis() + 200.0
      var k = 0
      while (k < ticks) {
        val due = t0 + k * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        val batch = take(perTick)
        val off = ms.addData(batch.toSeq).json().trim.toLong
        ms2.addData(batch.toSeq)
        adds += Add(off, due, System.currentTimeMillis().toDouble, perTick)
        added ++= batch
        k += 1
      }
      val doneRows = pl.byQuery.get(sink.id).map(_.map(_.rows).sum).getOrElse(0L)
      sink.processAllAvailable()
      sess.processAllAvailable()
      sink.stop(); sess.stop()
      Bench.flush(spark)
      val sinkB = pl.byQuery.getOrElse(sink.id, Vector.empty).sortBy(_.batchId)
      val sessB = pl.byQuery.getOrElse(sess.id, Vector.empty).sortBy(_.batchId)
      val mdir  = new java.io.File(s"$base/out/_manifests")
      val manifests = Option(mdir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("batch-"))
      val commitMs = manifests.map(f => f.getName.stripPrefix("batch-").toLong -> f.lastModified()).toMap
      val lat = adds.map { a =>
        val b = sinkB.find(_.endOffset >= a.offset)
          .getOrElse(throw new IllegalStateException(s"offset ${a.offset} never committed"))
        (commitMs(b.batchId) - a.dueMs) / 1e3
      }
      val wall = (commitMs.values.max - adds.head.dueMs) / 1e3
      StreamRun(lat.toSeq, wall, adds.map(_.rows.toLong).sum,
        adds.map(_.rows.toLong).sum - doneRows,
        adds.map(a => a.addedMs - a.dueMs).max, sinkB, sessB, manifests.size,
        s"$base/out", added.toSeq)
    }

    ctx.tracer.span("warmup")(stream(NominalRate, 1.0))
    val runs = (0 until NominalRuns).map { i =>
      ctx.res.attempted += 1
      try ctx.tracer.span("op", s"stream-$i")(stream(NominalRate, StreamS))
      catch { case e: Throwable => ctx.res.fail(s"stream run $i", e); throw e }
    }
    val l = ctx.res.layers
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Bench.median(xs)
    def dur(bs: Seq[Progress], k: String) = med(bs.map(_.durations.getOrElse(k, 0L) / 1e3))
    val sinkB = runs.flatMap(_.sinkBatches).toSeq
    val sessB = runs.flatMap(_.sessionBatches).toSeq
    val lats  = runs.flatMap(_.latencies).toSeq
    l("stream.event_lat_p50_s") = Bench.median(lats)
    l("stream.event_lat_p99_s") = p99(lats)
    l("stream.wall_s")          = Bench.median(runs.map(_.wallS))
    l("stream.rows_per_s")      = Bench.median(runs.map(r => r.rows / r.wallS))
    l("Streams.trigger_s")      = dur(sinkB, "triggerExecution")
    l("Sinks.commit_s")         = dur(sinkB, "addBatch")
    l("Streams.planning_s")     = dur(sinkB, "queryPlanning")
    l("Streams.walCommit_s")    = dur(sinkB, "walCommit")
    l("Streams.addBatch_s")     = dur(sessB, "addBatch")
    l("Streams.rows_per_batch") = med(sinkB.map(_.rows.toDouble))
    l("Streams.backlog_rows")   = runs.map(_.backlogAtEnd).max
    l("Streams.state_rows")     = sm.snapshot.values.flatMap(_.headOption).map(_.stateRows).sum
    l("stream.gen_late_ms")     = runs.map(_.maxLateMs).max
    // input bytes: the added rows' share of the generated parquet source
    val inBytes = LinesEtl.dirBytes(s"${ctx.data}/stream") * runs.last.rows.toDouble / events.length
    l("stream.out_bytes_per_in_byte") = LinesEtl.dirBytes(runs.last.out) / inBytes
    ctx.res.info("stream_nominal_rate_rows_per_s") = NominalRate.toString
    ctx.res.info("stream_latency_limit_s") = LatencyLimitS.toString
    ctx.res.info("stream_event_samples") = lats.size.toString

    ctx.tracer.span("rate_ladder") {
      val ok = LadderRates.map { rate =>
        val r = stream(rate, LadderS)
        val n = r.latencies.size / 3
        val growing = Bench.median(r.latencies.takeRight(n)) >
          1.5 * Bench.median(r.latencies.take(n)) + 0.5
        val tail = p99(r.latencies)
        l(s"stream.rate_$rate.lat_p99_s") = tail
        rate -> (tail <= LatencyLimitS && !growing)
      }
      l("stream.max_rate_rows_per_s") = ok.filter(_._2).map(_._1.toDouble).foldLeft(0.0)(math.max)
    }

    ctx.tracer.span("stream_check") {
      val last = runs.last
      ctx.res.check("lines_stream.one_manifest_per_batch") {
        last.manifests == last.sinkBatches.size &&
          last.sinkBatches.map(_.batchId).distinct.size == last.sinkBatches.size
      }
      ctx.res.check("lines_stream.no_duplicate_segmentid") {
        val t = spark.read.parquet(last.out)
        val n = t.count()
        val expect = last.added.count(e => math.floor(e.value).toLong % 600 != 0)
        n == expect && t.select("segmentid").distinct().count() == n
      }
    }
  }
}
