package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-15 measurement tool: dump `.explain("formatted")` plus cold/warm
  * timed counts for MANY queries in one session —
  * `runMain graft.PlanDump <outDir> <suffix> <sfDir> <q1,q2,...>` writes
  * `<outDir>/<query>_<suffix>.txt` per query (`all` = every declared
  * query) and prints one timing line each. One JVM for the whole batch
  * instead of one Explain run per query. The timing line also gives the
  * query's largest generated method, from its final plan, flagged `HUGE`
  * above [[HugeMethodLimit]].
  */
object PlanDump {

  /** HotSpot's `HugeMethodLimit`: the JIT never compiles a method with more
    * bytecode than this, so a whole-stage-codegen loop above it runs in the
    * interpreter.
    */
  val HugeMethodLimit = 8000

  /** Runs `df` (untimed, rows discarded) so its adaptive plan is final, then
    * returns the bytecode size of the largest method the plan's
    * whole-stage-codegen stages compile to: 0 without such a stage, -1 if
    * one did not compile.
    */
  def maxMethodBytes(df: DataFrame): Int = {
    df.queryExecution.toRdd.foreach(_ => ())
    val stats = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
    if (stats.exists(_ < 0)) -1 else (0 +: stats).max
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir  = args(2)
    val names  =
      if (args(3) == "all") SparkEntry.all.map(_.name).toArray
      else args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // ad-hoc conf experiments: GRAFT_SPARK_CONF="k=v;k=v"
    val b = sys.env.get("GRAFT_SPARK_CONF").map(_.split(";").toSeq)
      .getOrElse(Seq.empty).filter(_.contains("="))
      .foldLeft(b0) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k, v)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Empirical breakdown per timed region (guide §1.1): where does task
    // time actually go — compute, GC, shuffle fetch, serialization?
    val run = new java.util.concurrent.atomic.AtomicLong
    val cpu = new java.util.concurrent.atomic.AtomicLong
    val gc  = new java.util.concurrent.atomic.AtomicLong
    val fw  = new java.util.concurrent.atomic.AtomicLong
    val nt  = new java.util.concurrent.atomic.AtomicLong
    // per-stage task durations — the guide §2.5 skew probe (max vs median)
    val stages = scala.collection.concurrent.TrieMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            run.addAndGet(m.executorRunTime)
            cpu.addAndGet(m.executorCpuTime / 1000000L)
            gc.addAndGet(m.jvmGCTime)
            fw.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
            nt.incrementAndGet()
            val b = stages.getOrElseUpdate(te.stageId,
              scala.collection.mutable.ArrayBuffer.empty[Long])
            b.synchronized { b += m.executorRunTime }
          }
        }
      })
    def drainStats(label: String): Unit = {
      org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
      println(f"[plandump]   $label: tasks ${nt.getAndSet(0)}, " +
        f"run ${run.getAndSet(0) / 1e3}%.1f s, cpu ${cpu.getAndSet(0) / 1e3}%.1f s, " +
        f"gc ${gc.getAndSet(0) / 1e3}%.1f s, fetchWait ${fw.getAndSet(0) / 1e3}%.1f s")
      val top = stages.toSeq.sortBy(-_._2.sum).take(5)
      top.foreach { case (sid, ds) =>
        val s = ds.sorted
        println(f"[plandump]     stage $sid: n=${s.length} sum=${s.sum / 1e3}%.1f " +
          f"max=${s.last / 1e3}%.2f med=${s(s.length / 2) / 1e3}%.2f")
      }
      stages.clear()
    }
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      drainStats("build")
      val t1 = System.nanoTime()
      val n  = df.count()
      val cold = (System.nanoTime() - t1) / 1e9
      drainStats("cold")
      val t2 = System.nanoTime()
      df.count()
      val warm = (System.nanoTime() - t2) / 1e9
      drainStats("warm")
      val method = maxMethodBytes(df)
      drainStats("final")
      // final (post-AQE) plan — the executed shape, not the initial one
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_${suffix}_final.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      val huge = if (method > HugeMethodLimit) " HUGE" else ""
      println(f"[plandump] $name: build $tBuild%.2f s, cold $cold%.2f s, " +
        f"warm $warm%.2f s, $n rows, max method $method B$huge")
    }
    spark.stop()
  }
}
