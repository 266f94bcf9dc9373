package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions._

/** Bench's timed pass under an injected fault: a query whose `build` throws
  * reads -1 and is named on stderr, and its neighbours keep their timings,
  * rows and trace entries. Runs the pass only; writes no BENCH_FULL.json.
  */
class BenchSpec extends SparkSpec {

  test("a query that throws mid-pass reads -1 and leaves its neighbours intact") {
    val qs = Seq(
      Q.noOracle("fault_before")((s, dir) => Tables.nation(s, dir)),
      Q.noOracle("fault_throws")((_, _) => throw new IllegalStateException("injected")),
      Q.noOracle("fault_after")((s, dir) =>
        Tables.orders(s, dir).groupBy("o_orderstatus").agg(count(lit(1)))))
    val wantAfter = Tables.orders(spark, sfDir).select("o_orderstatus").distinct().count()
    val trace = new Trace
    val err = new ByteArrayOutputStream
    val stderr = System.err
    spark.sparkContext.addSparkListener(trace)
    val (runs, _) = try {
      System.setErr(new PrintStream(err, true, "UTF-8"))
      Bench.timedPass(spark, sfDir, qs)
    } finally {
      System.setErr(stderr)
      spark.sparkContext.removeSparkListener(trace)
    }
    org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
    val byName = runs.map(r => r.name -> r).toMap
    assert(runs.map(_.name) === qs.map(_.name), "the pass keeps declaration order")

    val thrown = byName("fault_throws")
    assert(thrown.secs === -1.0 && thrown.rows === -1L)
    assert(err.toString("UTF-8").contains("fault_throws"), "the failure is not named on stderr")

    assert(byName("fault_before").rows === 25L)
    assert(byName("fault_after").rows === wantAfter)
    val traced = trace.snapshot
    for (n <- Seq("fault_before", "fault_after")) {
      val r = byName(n)
      assert(r.secs >= 0 && r.buildS >= 0 && r.execS >= 0, s"$n lost its timing: $r")
      assert(math.abs(r.buildS + r.execS - r.secs) < 1e-6, s"$n: build + exec != wall")
      assert(traced.get((n, "exec")).exists(s => s.jobs >= 1 && s.tasks >= 1),
        s"$n lost its trace entry")
    }
    assert(!traced.keySet.exists(_._1 == "fault_throws"), "the thrower ran no job")
  }
}
