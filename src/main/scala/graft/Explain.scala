package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftSparkBridge.waitListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Plan inspection tool: `runMain graft.Explain <query> [sfDir] [mode]`
  * prints the formatted physical plan, and times the build (which may run
  * eager jobs) apart from a cold and a warm count, each with its Spark job
  * count — the feedback loop for shuffle/pushdown/codegen auditing
  * (SURVEY §4). `SPARK_GRAFT_CPUS` defaults to the host's processors.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode  = if (args.length > 2) args(2) else "formatted"
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def timed[T](phase: String)(f: => T): T = {
      val (j0, t0) = (jobs.get, System.nanoTime())
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      waitListenerBus(spark.sparkContext, 10000L)
      println(f"[explain] $name $phase: $s%.2f s, ${jobs.get - j0} jobs")
      r
    }
    val df = timed("build")(SparkEntry.queries(name)(spark, sfDir))
    df.explain(mode)
    println(s"[explain] $name: ${timed("count (cold)")(df.count())} rows")
    timed("count (warm)")(df.count())
    spark.stop()
  }
}
