package graft

/** One-shot SQL runner over the testdata tables + the engine's function
  * pack: `runMain graft.SqlShell "<sql>" [sfDir]`. Registers every parquet
  * table, the synthesized `segments` view, and the custom functions
  * (poly_hash, dot_ff, st_as_wkt, ...), then shows the result.
  */
object SqlShell {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.SqlShell \"<sql>\" [sfDir]")
      sys.exit(2)
    }
    val sql   = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session.local()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables(spark, sfDir, t).createOrReplaceTempView(t))
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    ops.Segments.df(spark, sfDir).createOrReplaceTempView("segments")
    ops.PostingLines.merged(spark, sfDir).createOrReplaceTempView("segments_merged")
    functions.Register(spark)
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }
}
