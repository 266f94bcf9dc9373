package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run → workload → pass → operation → {build, exec,
  * …}, plus warm-up, check and, on lines_etl, the layer probes {scan,
  * compute, write} and the stream runs. Spans stay in memory and are
  * written once, when the run ends.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long)

final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next  = 1

  /** Time `f` as a child of the innermost open span; a no-op when off. */
  def span[T](name: String, op: String = "")(f: => T): T =
    if (!on) f
    else {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def json(originNs: Long): String = Json.write(spans.map { s =>
    Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9).asJava
  }.asJava)
}

/** Cluster-work counters, read as deltas around a region. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, inputRows: Long, outputBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, inputRows - o.inputRows, outputBytes - o.outputBytes)
}

/** Executor-side counters for the whole session, from a public
  * `SparkListener`. With `stageSkew` on it also keeps every finished
  * stage's max/median task time, for the per-operation skew figure.
  */
final class WorkListener(stageSkew: Boolean) extends SparkListener {
  @volatile private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0)
  private val taskTimes = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private val skews     = ArrayBuffer.empty[(Long, Double)] // (seq, max/median)
  private var seq       = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    seq += 1
    taskTimes.remove(e.stageInfo.stageId).filter(_.nonEmpty).foreach { ts =>
      val sorted = ts.sorted
      val med    = sorted((sorted.size - 1) / 2).max(1L)
      skews += ((seq, sorted.last.toDouble / med))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(tasks = c.tasks + 1, cpuNs = c.cpuNs + m.executorCpuTime,
        shuffleBytes = c.shuffleBytes + m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
      if (stageSkew)
        taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def counters: Counters = synchronized(c)
  def skewSeq: Long = synchronized(seq)
  /** Worst max/median task-time ratio among stages finished after `from`. */
  def worstSkewSince(from: Long): Double = synchronized {
    skews.iterator.filter(_._1 > from).map(_._2).foldLeft(1.0)(math.max)
  }
}

/** Counts the SQL actions seen by the public `QueryExecutionListener` hook:
  * eager `collect`/`count`/checkpoint actions inside a declared query's
  * build show up here.
  */
final class ActionListener extends QueryExecutionListener {
  private val n = new java.util.concurrent.atomic.AtomicLong
  def actions: Long = n.get
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    n.incrementAndGet()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    n.incrementAndGet()
}

object Jvm {
  def gcNs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum * 1000000L
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

object Storage {
  /** (cached or checkpointed RDDs, their memory + disk bytes). */
  def held(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }
}
