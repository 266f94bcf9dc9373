package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geo.Albers
import graft.ops.{PostingLines, Segments, Sinks}

/** `lines_etl`: the paper's per-day ETL and the write path. Closed loop,
  * one client. A pass is a backfill (events → `Segments.fromEvents` →
  * `PostingLines.mergedFrom` → `Sinks.mergeDays`) into a fresh
  * date-partitioned table, then `Rounds` incremental rounds that each
  * re-merge a few seed-chosen days and read those days back. The
  * operations are the rounds; `rows_per_s` is the backfill rate. The traced
  * run also takes the backfill apart by layer and measures the streaming
  * plane ([[LinesStream]]) on the same kind of events.
  */
object LinesEtl {
  val Rounds       = 3
  val DaysPerRound = 2
  val PassS        = 8.0 // nominal pass length: sets the pass count

  private def merged(ev: DataFrame): DataFrame =
    PostingLines.mergedFrom(Segments.fromEvents(ev))

  private def backfill(ctx: Bench.Ctx, src: String, out: String): Unit = {
    val m = ctx.tracer.span("build")(merged(Tables.events(ctx.spark, src)))
    ctx.tracer.span("write")(Sinks.mergeDays(m, "starttime", out))
  }

  private def round(ctx: Bench.Ctx, src: String, out: String, days: Seq[String]): Unit = {
    val upd = ctx.tracer.span("build") {
      merged(Tables.events(ctx.spark, src)
        .filter(to_date(col("ts")).isin(days: _*)))
    }
    ctx.tracer.span("exec")(Sinks.mergeDays(upd, "starttime", out))
    ctx.tracer.span("readback") {
      Bench.noop(ctx.spark.read.parquet(out).filter(col("date").isin(days: _*)))
    }
  }

  def run(ctx: Bench.Ctx): Unit = {
    val spark = ctx.spark
    val src   = s"${ctx.data}/lines"
    // warm-up, untimed: one backfill and one round over the same source
    ctx.tracer.span("warmup") {
      val warmOut = s"${ctx.work}/etl-warm"
      backfill(ctx, src, warmOut)
      round(ctx, src, warmOut, Seq("2024-01-02"))
      Bench.rmrf(new java.io.File(warmOut))
    }
    val dayList = Tables.events(spark, src).select(to_date(col("ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getDate(0).toString).toSeq
    val rng = new scala.util.Random(ctx.seed)
    val plan = Seq.fill(Rounds)(rng.shuffle(dayList).take(DaysPerRound).sorted)
    ctx.res.info("round_days") = plan.map(_.mkString("+")).mkString(",")
    val srcRows = Tables.events(spark, src).count()
    val backfills = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastOut = ""
    val passes = Passes.loop(ctx, PassS) { (i, traced) =>
      val out = s"${ctx.work}/etl/pass-$i"
      if (lastOut.nonEmpty) Bench.rmrf(new java.io.File(lastOut))
      lastOut = out
      val t0 = System.nanoTime()
      try ctx.tracer.span("backfill", s"backfill-$i")(backfill(ctx, src, out))
      catch { case e: Throwable => ctx.res.fail(s"backfill pass $i", e) }
      ctx.res.attempted += 1
      val t1 = System.nanoTime()
      backfills += (t1 - t0) / 1e9
      val ops = plan.zipWithIndex.map { case (days, r) =>
        val r0 = System.nanoTime()
        ctx.res.attempted += 1
        try ctx.tracer.span("op", s"round-$i-$r")(round(ctx, src, out, days))
        catch { case e: Throwable => ctx.res.fail(s"round $r pass $i", e) }
        (System.nanoTime() - r0) / 1e9
      }
      Pass(traced, (System.nanoTime() - t0) / 1e9, ops, srcRows, 0, 0)
    }
    Passes.report(ctx, passes)
    // rows_per_s is the backfill rate at the stated input size
    val plainBackfills = passes.zip(backfills).filterNot(_._1.traced).map(_._2)
    ctx.res.metrics("rows_per_s") = srcRows / Bench.median(plainBackfills)
    ctx.res.info("source_rows") = srcRows.toString
    ctx.res.info("source_bytes") = dirBytes(src).toString

    val l = ctx.res.layers
    val outBytes = dirBytes(lastOut)
    l("lines.out_bytes_per_in_byte") = outBytes.toDouble / dirBytes(src)
    checks(ctx, src, lastOut, plan)
    if (ctx.trace) {
      layerProbes(ctx, src, lastOut, srcRows, Bench.median(plainBackfills))
      ctx.tracer.span("stream")(LinesStream.probe(ctx))
    }
  }

  def dirBytes(p: String): Long = parquetFiles(p).map(_.length()).sum

  private def parquetFiles(p: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(p))
  }

  /** The backfill taken apart, each layer measured on its own:
    * scan = source → noop; compute = merged frame → noop, minus the scan;
    * write = the written table re-merged by `Sinks.mergeDays`, minus the
    * read of that table. Their sum is checked against the backfill.
    */
  private def layerProbes(ctx: Bench.Ctx, src: String, out: String, rows: Long,
      backfillS: Double): Unit = {
    val spark = ctx.spark
    val l     = ctx.res.layers
    def timed(name: String)(f: => Unit): (Double, Counters) = {
      Bench.flush(spark)
      val c0 = ctx.work0.counters
      val t0 = System.nanoTime()
      ctx.tracer.span(name)(f)
      val s = (System.nanoTime() - t0) / 1e9
      Bench.flush(spark)
      (s, ctx.work0.counters - c0)
    }
    ctx.tracer.span("layers") {
      val (scanS, scanC) = timed("scan")(Bench.noop(Tables.events(spark, src)))
      val (mergedS, mergedC) = timed("compute")(Bench.noop(merged(Tables.events(spark, src))))
      val (readS, _) = timed("read_out")(Bench.noop(spark.read.parquet(out)))
      val probeOut = s"${ctx.work}/etl-write-probe"
      val (rewriteS, writeC) = timed("write") {
        Sinks.mergeDays(spark.read.parquet(out).drop("date"), "starttime", probeOut)
      }
      val files = parquetFiles(probeOut)
      val days  = new java.io.File(probeOut).listFiles().count(_.getName.startsWith("date="))
      l("Tables.scan_s")       = scanS
      l("Tables.rows_read")    = scanC.inputRows
      l("Tables.bytes_read")   = dirBytes(src) // the files the scan opened
      l("PostingLines.compute_s") = mergedS - scanS
      l("PostingLines.rows_per_cpu_s") = rows / ((mergedC.cpuNs - scanC.cpuNs).max(1L) / 1e9)
      l("Sinks.write_s")       = rewriteS - readS
      l("Sinks.bytes_written") = writeC.outputBytes
      l("Sinks.files_written") = files.size
      l("Sinks.files_per_day") = files.size.toDouble / days.max(1)
      l("lines.backfill_s")    = backfillS
      l("lines.backfill_accounted_frac") =
        (l("Tables.scan_s") + l("PostingLines.compute_s") + l("Sinks.write_s")) / backfillS
      Bench.rmrf(new java.io.File(probeOut))
    }
  }

  /** Output checks, outside the timed region. */
  private def checks(ctx: Bench.Ctx, src: String, out: String,
      plan: Seq[Seq[String]]): Unit = ctx.tracer.span("check") {
    val spark = ctx.spark
    val res   = ctx.res
    val table = spark.read.parquet(out)
    res.check("lines_etl.no_pending_rows") {
      table.filter(col("geom").isNull || col("lenm").isNull || col("sogkt").isNull)
        .count() == 0
    }
    res.check("lines_etl.row_count") {
      // duration is floor(value) mod 600: computed here from the source
      // alone, independently of the program's segment synthesis
      val expect = Tables.events(spark, src)
        .filter(pmod(floor(col("value")).cast("long"), lit(600L)) =!= 0).count()
      table.count() == expect
    }
    res.check("lines_etl.albers_sample") {
      val sample = table.orderBy(xxhash64(col("segmentid"), lit(ctx.seed))).limit(2000)
        .select("startlon", "startlat", "endlon", "endlat", "duration",
          "geom.sx", "geom.sy", "geom.ex", "geom.ey", "geom.srid", "lenm", "sogkt")
        .collect()
      sample.length == 2000 && sample.forall { r =>
        val (sx, sy) = Albers.forwardScala(r.getDouble(0), r.getDouble(1))
        val (ex, ey) = Albers.forwardScala(r.getDouble(2), r.getDouble(3))
        val len = math.sqrt((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy))
        def near(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
        near(r.getDouble(5), sx) && near(r.getDouble(6), sy) &&
        near(r.getDouble(7), ex) && near(r.getDouble(8), ey) && r.getInt(9) == 3005 &&
        near(r.getDouble(10), len) &&
        near(r.getDouble(11), len / r.getInt(4) * Segments.KnotsPerMps)
      }
    }
    res.check("lines_etl.replayed_round_identical") {
      def digest() = spark.read.parquet(out).groupBy("date")
        .agg(count(lit(1)), sum(pmod(xxhash64(table.columns.map(col).toSeq: _*), lit(1L << 31))))
        .collect().map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      val before = digest()
      round(ctx, src, out, plan.last)
      before == digest() && before.size >= plan.last.size
    }
  }
}
