package graft

import org.apache.spark.sql.functions._

/** The observability listener (R23) attributes task metrics to the query
  * named by the job-local property — the per-batch-log analog.
  */
class MetricsSpec extends SparkSpec {

  test("listener attributes shuffle bytes and input records to the observed query") {
    val l = new QueryMetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      Metrics.observe(spark, "probe_agg") {
        Tables.orders(spark, sfDir).groupBy("o_orderstatus")
          .agg(count(lit(1))).collect()
      }
      Tables.orders(spark, sfDir).count() // unobserved: must NOT be attributed
      org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
      val s = l.snapshot("probe_agg")
      assert(s.tasks.sum > 0, "no tasks attributed")
      assert(s.inputRecords.sum > 0, "no input records attributed")
      assert(s.shuffleWriteBytes.sum > 0, "groupBy must write shuffle bytes")
      assert(s.shuffleReadBytes.sum > 0, "groupBy must read shuffle bytes")
      assert(l.snapshot.keySet === Set("probe_agg"),
        "unobserved job leaked into the metrics")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("Observed.checkpoint: the checkpoint's one job yields the aggregate; empty reads 0") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    // the same aggregate as its own job, over a narrow and a shuffled frame
    val narrow = orders.filter(col("o_custkey") % 3 === 0)
    val shuffled = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val wantNarrow = narrow.agg(sum("o_orderkey")).head().getLong(0)
    val wantShuffled = shuffled.agg(max("n")).head().getLong(0)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def flush(): Unit =
      org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(l)
    try {
      flush()
      val j0 = jobs.get
      val (cp, got) = Observed.checkpoint(narrow, sum(col("o_orderkey")))
      flush()
      assert(jobs.get - j0 === 1, "the observed checkpoint must run exactly one job")
      assert(got === wantNarrow)
      assert(cp.count() === narrow.count())
    } finally spark.sparkContext.removeSparkListener(l)
    assert(Observed.checkpoint(shuffled, max(col("n")))._2 === wantShuffled)
    assert(Observed.checkpoint(orders.filter(lit(false)), sum(col("o_orderkey")))._2 === 0L,
      "a sum over zero rows must read as 0")
  }

  test("two observed queries accumulate independently") {
    val l = new QueryMetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      Metrics.observe(spark, "m_scan")(
        Tables.region(spark, sfDir).collect())
      Metrics.observe(spark, "m_join") {
        val n = Tables.nation(spark, sfDir)
        n.join(Tables.region(spark, sfDir), n("n_regionkey") === col("r_regionkey"))
          .collect()
      }
      org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
      assert(l.snapshot.keySet === Set("m_scan", "m_join"))
      assert(l.snapshot("m_scan").inputRecords.sum > 0)
      assert(l.snapshot("m_join").inputRecords.sum > 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
