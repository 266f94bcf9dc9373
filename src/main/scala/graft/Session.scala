package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is configured: every main and the test
  * suite build theirs here, so they run the same engine settings — `cpus`
  * cores and as many shuffle partitions, the UTC session zone the oracle
  * comparison assumes, no UI, WARN logging. Other settings come from
  * `spark.*` JVM system properties (`-Dspark.sql.autoBroadcastJoinThreshold=-1`).
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
