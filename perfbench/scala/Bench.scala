package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: runs one workload against the engine's public entry
  * points and writes a JSON result for `run.py`.
  *
  * Usage: Bench --workload W --data DIR --work DIR --seconds S --trace 0|1
  *              --seed N --result FILE
  *
  * `--seconds` sets the number of timed passes (see [[Passes.loop]]);
  * every figure is a median over passes or a percentile over operations.
  * With `--trace 1` untraced and traced passes are mixed, so the run also
  * reports the tracing overhead.
  */
object Bench {
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers  = mutable.LinkedHashMap.empty[String, Double]
    val info    = mutable.LinkedHashMap.empty[String, String]
    val checks  = mutable.LinkedHashMap.empty[String, Boolean]
    var attempted = 0L
    val failures  = mutable.ArrayBuffer.empty[String]

    def fail(what: String, e: Throwable): Unit = {
      failures += what
      System.err.println(s"[bench] FAILED $what: ${Option(e).map(_.toString).getOrElse("")}")
    }
    def check(name: String)(ok: => Boolean): Unit = {
      attempted += 1
      val v = try ok catch { case e: Throwable => fail(s"check $name", e); false }
      checks(name) = v
      if (!v && !failures.contains(s"check $name")) fail(s"check $name", null)
    }
  }

  final case class Ctx(spark: SparkSession, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, tracer: Tracer,
      work0: WorkListener, actions: ActionListener, res: Result)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, or the
    * median when there are too few samples for one above it: returns
    * (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 22) (median(s), 50.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop every memo and cached or checkpointed block, so one pass's state
    * cannot speed up or slow down the next.
    */
  def resetState(spark: SparkSession): Unit = {
    graft.ops.Dedup.clearCaches(spark)
    graft.ops.Corpus.clearCaches(spark)
    graft.ops.Tokenize.clearCaches(spark)
    graft.ops.Multimodal.clearCaches(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def memoCount(spark: SparkSession): Int =
    graft.ops.Dedup.cacheCount(spark) + graft.ops.Corpus.cacheCount(spark) +
      graft.ops.Tokenize.cacheCount(spark) + graft.ops.Multimodal.cacheCount(spark)

  def flush(spark: SparkSession): Unit =
    org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 30000)

  /** Materialize a result without keeping it: Spark's `noop` sink runs the
    * full physical plan (sorts and projections included), where `count()`
    * lets the optimizer prune them away.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).toSeq.flatten.foreach(rmrf)
    p.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work     = opts("work")
    val cpus     = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val trace    = opts("trace") == "1"
    val tracer   = new Tracer(trace)
    val res      = new Result
    val spark    = session(cpus, work)
    val wl       = new WorkListener(stageSkew = trace)
    val al       = new ActionListener
    spark.sparkContext.addSparkListener(wl)
    spark.listenerManager.register(al)
    val ctx = Ctx(spark, opts("data"), work, opts("seconds").toDouble, trace,
      opts("seed").toLong, tracer, wl, al, res)
    res.info ++= Seq(
      "workload" -> workload, "cpus" -> cpus.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "storage_memory_mb" -> (spark.sparkContext.getExecutorMemoryStatus
        .values.map(_._1).sum >> 20).toString,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "ansi" -> spark.conf.get("spark.sql.ansi.enabled", "true"))
    val runOrigin = System.nanoTime()
    try tracer.span("run")(tracer.span(workload) {
      workload match {
        case "lines_etl"    => LinesEtl.run(ctx)
        case "corpus_dedup" => CorpusDedup.run(ctx)
        case other          => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }) catch { case e: Throwable => res.fail(s"workload $workload", e) }
    if (trace) Files.writeString(Paths.get(work, "spans.json"), tracer.json(runOrigin))
    resetState(spark)
    spark.stop()
    writeResult(res, opts("result"))
  }

  private def writeResult(res: Result, path: String): Unit = {
    val finite = (m: mutable.Map[String, Double]) =>
      m.filter { case (_, v) => !v.isNaN && !v.isInfinite }.asJava
    val out = Map[String, AnyRef](
      "attempted" -> Long.box(res.attempted), "failed" -> Int.box(res.failures.size),
      "failures" -> res.failures.asJava, "metrics" -> finite(res.metrics),
      "layers" -> finite(res.layers), "checks" -> res.checks.asJava,
      "info" -> res.info.asJava)
    Files.writeString(Paths.get(path), Json.write(out.asJava))
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def write(v: AnyRef): String = mapper.writeValueAsString(v)
}
