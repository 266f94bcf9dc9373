package graft

/** Local mirror of the driver's t1 smoke: run SparkEntry.entry and print
  * the row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    val n  = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n (must be > 0)")
    spark.stop()
  }
}
