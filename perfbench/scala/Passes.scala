package graftbench

import scala.collection.mutable.ArrayBuffer

/** What one timed pass measured. `ops` are per-operation latencies (s). */
final case class Pass(traced: Boolean, wallS: Double, ops: Seq[Double],
    rows: Long, cpuNs: Long, gcNs: Long)

object Passes {

  /** Run `pass(i, traced)` as many times as passes of `nominalS` seconds
    * fit in `ctx.seconds` (at least one). The count depends only on the
    * arguments, not on how fast the host runs, so every run stops at the
    * same point of the JVM's warm-up curve. A traced run makes at least
    * five passes: an untraced one, then traced, untraced, untraced, traced,
    * so both kinds get an early and a late pass after the first, slowest
    * one. Set-up ends when the first pass starts.
    */
  def loop(ctx: Bench.Ctx, nominalS: Double)(pass: (Int, Boolean) => Pass): Seq[Pass] = {
    val out = ArrayBuffer.empty[Pass]
    val n   = math.max(1, math.round(ctx.seconds / nominalS).toInt)
    ctx.res.metrics("setup_s") = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    for (i <- 0 until (if (ctx.trace) math.max(n, 5) else n)) {
      val traced = ctx.trace && i > 0 && (i % 4 == 1 || i % 4 == 0)
      Bench.flush(ctx.spark)
      val c0 = ctx.work0.counters
      val g0 = Jvm.gcNs
      val p  = ctx.tracer.span("pass", s"pass-$i")(pass(i, traced))
      Bench.flush(ctx.spark)
      out += p.copy(cpuNs = (ctx.work0.counters - c0).cpuNs, gcNs = Jvm.gcNs - g0)
    }
    out.toSeq
  }

  /** The end-to-end metrics every workload reports, from its untraced
    * passes (all passes when none is untraced).
    */
  def report(ctx: Bench.Ctx, passes: Seq[Pass]): Unit = {
    val plain = passes.filterNot(_.traced)
    val use   = if (plain.nonEmpty) plain else passes
    val m     = ctx.res.metrics
    val ops   = use.flatMap(_.ops)
    val (tv, tp) = Bench.tail(ops)
    m("wall_s")      = Bench.median(use.map(_.wallS))
    m("op_p50_s")    = Bench.median(ops)
    m("op_tail_s")   = tv
    m("rows_per_s")  = Bench.median(use.map(p => p.rows / p.wallS))
    m("exec_cpu_s")  = Bench.median(use.map(_.cpuNs / 1e9))
    ctx.res.info("passes") = passes.size.toString
    ctx.res.info("pass_wall_s") = passes.map(p => f"${p.wallS}%.3f").mkString(",")
    ctx.res.info("op_samples") = ops.size.toString
    ctx.res.info("op_tail_percentile") = f"$tp%.1f"
    val l = ctx.res.layers
    l("ops.samples")  = ops.size
    l("ops.tail_pct") = tp
    l("jvm.gc_s")     = Bench.median(use.map(_.gcNs / 1e9))
    // tracing overhead: traced against untraced passes, after the first
    val (traced, untraced) = passes.drop(1).partition(_.traced)
    if (traced.nonEmpty && untraced.nonEmpty) {
      l("trace.wall_s")    = Bench.median(traced.map(_.wallS))
      l("untraced.wall_s") = Bench.median(untraced.map(_.wallS))
      l("trace.overhead_frac") = l("trace.wall_s") / l("untraced.wall_s") - 1
    }
  }
}
