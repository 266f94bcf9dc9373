package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query engine observability (SURVEY §2 R23). The reference's one
  * operational virtue is structured per-batch logs (sql_to_line.py:30-36,
  * 113-131: rows touched, batch id, timings); this is the engine analog:
  * the one SparkListener, which attributes executor task metrics to the
  * (query, phase) named by the job-local properties [[Metrics.observe]]
  * sets, so concurrent queries on one session don't cross-contaminate and
  * a job outside any query is not counted. Bench and `Diag plan` read it.
  *
  * Each stage's task run times are kept only while it runs and fold into
  * its key's worst stage when it completes, so memory stays bounded by the
  * running stages plus one [[Trace.Stats]] per key. Callbacks arrive on
  * the listener bus after the fact — flush it
  * (GraftSparkBridge.waitListenerBus) before reading.
  */
final class Trace extends SparkListener {
  import Trace._

  private val stats     = mutable.HashMap.empty[Key, Stats]
  private val stageKey  = mutable.HashMap.empty[Int, Key]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  /** Task run times (ms) of each running attributed stage. */
  private val running   = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def add(k: Key, s: Stats): Unit = stats(k) = stats.getOrElse(k, Stats()) + s

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).filter(_.getProperty(Metrics.QueryKey) != null).foreach { p =>
      val k = (p.getProperty(Metrics.QueryKey), p.getProperty(Metrics.PhaseKey))
      add(k, Stats(jobs = 1))
      e.stageIds.foreach(stageKey(_) = k)
      jobStages(e.jobId) = e.stageIds
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (stageKey.contains(id)) running.getOrElseUpdate(id, mutable.ArrayBuffer.empty)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      add(k, Stats(tasks = 1, inputRecords = m.inputMetrics.recordsRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        peakExecutionMemory = m.peakExecutionMemory, cpuNs = m.executorCpuTime,
        runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime))
      running.get(e.stageId).foreach(_ += m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(fold(e.stageInfo.stageId))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case Metrics.Compiled(query, phase, n) => synchronized(add((query, phase), Stats(compiles = n)))
    case _ =>
  }

  // a job's end drops its stages' keys (their task ends precede it), so a
  // long-lived session does not keep one entry per stage forever
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach(_.foreach { id => fold(id); stageKey.remove(id) })
  }

  private def fold(id: Int): Unit =
    for (ts <- running.remove(id) if ts.nonEmpty; k <- stageKey.get(id)) {
      val s = ts.toVector.sorted
      add(k, Stats(stages = 1, worst = Some(StageSpread(id, s.length, s.last, median(s), s.sum))))
    }

  /** Counters per (query, phase) so far. */
  def snapshot: Map[Key, Stats] = synchronized(stats.toMap)

  /** `query`'s counters summed over its phases. */
  def total(query: String): Stats =
    snapshot.collect { case ((`query`, _), s) => s }.foldLeft(Stats())(_ + _)
}

object Trace {
  /** (query, phase), from [[Metrics.QueryKey]] and [[Metrics.PhaseKey]]. */
  type Key = (String, String)

  /** One stage's task run times: count, max and median (ms), and their sum. */
  final case class StageSpread(stageId: Int, n: Int, maxMs: Long, medianMs: Double, sumMs: Long)

  /** Counters of one key; `worst` is its stage with the most task time,
    * `compiles` the codegen classes compiled in its observed blocks.
    */
  final case class Stats(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      inputRecords: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, peakExecutionMemory: Long = 0, cpuNs: Long = 0,
      runMs: Long = 0, gcMs: Long = 0, fetchWaitMs: Long = 0,
      worst: Option[StageSpread] = None, compiles: Long = 0) {
    def +(o: Stats): Stats = Stats(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      inputRecords + o.inputRecords, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      peakExecutionMemory max o.peakExecutionMemory, cpuNs + o.cpuNs, runMs + o.runMs,
      gcMs + o.gcMs, fetchWaitMs + o.fetchWaitMs, (worst ++ o.worst).maxByOption(_.sumMs),
      compiles + o.compiles)
  }

  /** The median of a non-empty sample; the mean of the middle two for even n. */
  def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

object Metrics {
  /** Job-local property carrying the logical query name. */
  final val QueryKey = "graft.query.name"

  /** Job-local property carrying the query's phase (e.g. build, exec). */
  final val PhaseKey = "graft.query.phase"

  /** Listener-bus event: `n` codegen classes compiled in one observed block. */
  final case class Compiled(query: String, phase: String, n: Long) extends SparkListenerEvent

  /** Runs `f` with every job it spawns attributed to (`name`, `phase`) in
    * [[Trace]]; returns `f`'s value and its wall seconds. The codegen
    * classes compiled meanwhile, if any, reach [[Trace]] as a [[Compiled]]
    * event. Spark counts compiles per JVM, so a block on another thread (a
    * concurrent query, a stream) adds to this block's count; and as its
    * codegen cache is keyed on the source and the compiling thread's class
    * loader, in local mode a new whole-stage class compiles twice, once on
    * the planning thread and once on a task thread.
    */
  def observe[T](spark: SparkSession, name: String, phase: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(QueryKey, name)
    sc.setLocalProperty(PhaseKey, phase)
    val c0 = compiles
    val t0 = System.nanoTime()
    try (f, (System.nanoTime() - t0) / 1e9)
    finally {
      Seq(QueryKey, PhaseKey).foreach(sc.setLocalProperty(_, null))
      val n = compiles - c0
      if (n > 0) org.apache.spark.GraftSparkBridge.post(sc, Compiled(name, phase, n))
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Streaming twin of [[Trace]] (R23 for the streaming
  * plane): per-micro-batch input rows, processed-rows/sec, state-store
  * rows and watermark, keyed by query name — what an operator watches to
  * know a stream is keeping up (input rate vs processing rate) and that
  * state is bounded (rows stable once the watermark advances). Attach via
  * `spark.streams.addListener`.
  */
final class StreamMetricsListener
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  final case class BatchStats(batchId: Long, inputRows: Long,
      stateRows: Long, watermark: String)

  /** Newest batches kept per query — a 1 s-trigger stream produces ~86k
    * batches/day; unbounded history would be a slow leak.
    */
  final val MaxBatchesPerQuery = 1024

  private val batches = TrieMap.empty[String, List[BatchStats]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p  = e.progress
    val st = if (p.stateOperators == null) 0L
      else p.stateOperators.map(_.numRowsTotal).sum
    val wm = Option(p.eventTime).flatMap(m => Option(m.get("watermark"))).getOrElse("")
    val bs = BatchStats(p.batchId, p.numInputRows, st, wm)
    batches.updateWith(p.name match { case null => p.id.toString; case n => n }) {
      case Some(xs) => Some((bs :: xs).take(MaxBatchesPerQuery))
      case None     => Some(bs :: Nil)
    }
  }

  /** Newest-first batch stats per query name. */
  def snapshot: Map[String, List[BatchStats]] = batches.readOnlySnapshot().toMap
}
