package graft

import org.apache.spark.sql.SparkSession

/** Shuffle audit: for every declared query, counts physical exchanges /
  * broadcasts / sorts and flags cartesian products. The per-round check
  * that no query silently regressed into an extra shuffle (SURVEY §4).
  *
  *   sbt "runMain graft.PlanAudit [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-26s ${"xchg"}%4s ${"bcast"}%5s ${"sort"}%4s  flags")
    SparkEntry.all.sortBy(_.name).foreach { q =>
      try {
        val plan  = q.build(spark, sfDir).queryExecution.executedPlan.toString
        // ReusedExchange re-reads an existing shuffle — not a new exchange
        val xchg  = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(plan).length
        val bcast = "BroadcastExchange".r.findAllIn(plan).length
        val sort  = raw"\bSort\b".r.findAllIn(plan).length
        val cart  = if (plan.contains("CartesianProduct")) "CARTESIAN!" else ""
        val bnlj  = if (plan.contains("BroadcastNestedLoopJoin")) "bnlj" else ""
        println(f"${q.name}%-26s $xchg%4d $bcast%5d $sort%4d  $cart$bnlj")
      } catch {
        case e: Throwable =>
          println(f"${q.name}%-26s  ERROR ${String.valueOf(e.getMessage).take(60)}")
      }
    }
    spark.stop()
  }
}
