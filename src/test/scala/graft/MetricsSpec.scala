package graft

import org.apache.spark.sql.functions._

/** The observability listener (R23) attributes task metrics to the query
  * and phase named by the job-local properties — the per-batch-log analog.
  */
class MetricsSpec extends SparkSpec {

  private def traced[T](body: Trace => T): T = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    try body(t) finally spark.sparkContext.removeSparkListener(t)
  }

  private def flush(): Unit =
    org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)

  test("listener attributes shuffle bytes and input records to the observed query") {
    traced { l =>
      Metrics.observe(spark, "probe_agg", "exec") {
        Tables.orders(spark, sfDir).groupBy("o_orderstatus")
          .agg(count(lit(1))).collect()
      }
      Tables.orders(spark, sfDir).count() // unobserved: must NOT be attributed
      flush()
      val s = l.snapshot(("probe_agg", "exec"))
      assert(s.tasks > 0, "no tasks attributed")
      assert(s.inputRecords > 0, "no input records attributed")
      assert(s.shuffleWriteBytes > 0, "groupBy must write shuffle bytes")
      assert(s.shuffleReadBytes > 0, "groupBy must read shuffle bytes")
      assert(l.snapshot.keySet === Set(("probe_agg", "exec")),
        "unobserved job leaked into the metrics")
    }
  }

  test("a query's build and exec phases accumulate separately") {
    traced { l =>
      val (built, _) = Metrics.observe(spark, "m_phases", "build") {
        Tables.orders(spark, sfDir).groupBy("o_custkey")
          .agg(count(lit(1)).as("n")).localCheckpoint()
      }
      Metrics.observe(spark, "m_phases", "exec")(
        built.groupBy("n").agg(count(lit(1))).collect())
      flush()
      val phases = l.snapshot
      assert(phases.keySet === Set(("m_phases", "build"), ("m_phases", "exec")))
      for ((key, s) <- phases) {
        assert(s.jobs >= 1, s"$key ran no job")
        assert(s.stages >= 2, s"$key: a shuffle runs a map and a reduce stage")
        val w = s.worst.getOrElse(fail(s"$key has no worst stage"))
        assert(w.n >= 1 && w.n <= s.tasks, s"$key: worst stage n=${w.n} of ${s.tasks} tasks")
        assert(w.maxMs >= w.medianMs)
      }
      val total = l.total("m_phases")
      assert(total.tasks === phases.values.map(_.tasks).sum)
      assert(total.jobs === phases.values.map(_.jobs).sum)
    }
  }

  test("observe counts codegen compiles per phase: a new shape compiles cold, not warm") {
    traced { l =>
      // a literal no other query carries: a source the codegen cache has not seen
      val salt = System.nanoTime()
      val df = spark.range(1000).filter(col("id") * lit(salt) =!= lit(salt + 1))
      Metrics.observe(spark, "m_codegen", "cold")(df.count())
      Metrics.observe(spark, "m_codegen", "warm")(df.count())
      flush()
      val s = l.snapshot
      assert(s(("m_codegen", "cold")).compiles >= 1, "a new query shape compiled no class")
      assert(s(("m_codegen", "warm")).compiles === 0, "the warm count recompiled")
      assert(l.total("m_codegen").compiles === s(("m_codegen", "cold")).compiles)
    }
  }

  test("stage median is the true median") {
    assert(Trace.median(Seq(5L)) === 5.0)
    assert(Trace.median(Seq(9L, 1L, 4L)) === 4.0)
    assert(Trace.median(Seq(1L, 2L, 10L, 3L)) === 2.5)
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

  test("Observed.fixpoint: one job per round, stops at an unchanged witness or the cap") {
    // counts 9, 8, 7, 6, 6, …: the witness first repeats in round 5
    val start = spark.range(10).toDF("x").localCheckpoint()
    def step(cur: org.apache.spark.sql.DataFrame, r: Int) =
      cur.filter(col("x") < math.max(10 - r, 6))
    def run(name: String, cap: Int) = traced { l =>
      var rounds = 0
      val ((out, fixed), _) = Metrics.observe(spark, name, "build")(
        Observed.fixpoint(start, 10L, count(lit(1)), cap) { (cur, r) =>
          rounds += 1
          assert(r === rounds, "rounds are numbered from 1")
          step(cur, r)
        })
      flush()
      assert(l.snapshot((name, "build")).jobs === rounds,
        s"$name: $rounds rounds must run $rounds jobs")
      (out.count(), fixed, rounds)
    }
    assert(run("fx_converges", 50) === ((6L, true, 5)))
    assert(run("fx_capped", 3) === ((7L, false, 3)),
      "a cap reached while the witness still moves is not a fixpoint")
    // an empty frame's sum is NULL and reads 0: one round, and it is a fixpoint
    val (empty, sum0) = Observed.checkpoint(start.filter(lit(false)), sum(col("x")))
    assert(sum0 === 0L)
    var rounds = 0
    val (out, fixed) = Observed.fixpoint(empty, sum0, sum(col("x")), 5) { (cur, r) =>
      rounds += 1; step(cur, r)
    }
    assert(fixed && rounds === 1 && out.count() === 0L)
  }

  test("two observed queries accumulate independently") {
    traced { l =>
      Metrics.observe(spark, "m_scan", "exec")(
        Tables.region(spark, sfDir).collect())
      Metrics.observe(spark, "m_join", "exec") {
        val n = Tables.nation(spark, sfDir)
        n.join(Tables.region(spark, sfDir), n("n_regionkey") === col("r_regionkey"))
          .collect()
      }
      flush()
      assert(l.snapshot.keySet.map(_._1) === Set("m_scan", "m_join"))
      assert(l.total("m_scan").inputRecords > 0)
      assert(l.total("m_join").inputRecords > 0)
    }
  }
}
