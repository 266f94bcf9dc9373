package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Q

/** `corpus_dedup`: the shuffle- and pair-bound corpus path. Closed loop,
  * one client, one declared query at a time in declaration order, over a
  * seeded `documents` table whose near-duplicate share the seed sets.
  * Each operation is `Q.build` plus the result materialized to `noop`.
  */
object CorpusDedup {

  /** The declared queries timed, in declaration order (see README.md for
    * why these and not all 44 of the four modules).
    */
  val Names: Seq[String] = Seq(
    "q_dedup_minhash_pairs", "q_dedup_components", "q_kcore_neardup",
    "q_tfidf_cosine_pairs")

  val PassS = 10.0 // nominal pass length: sets the pass count

  def queries: Seq[Q] = {
    val all = Seq(graft.ops.Dedup.queries, graft.ops.Corpus.queries,
      graft.ops.Graph.queries, graft.ops.Retrieval.queries).flatten
    val byName = all.map(q => q.name -> q).toMap
    Names.map(n => byName.getOrElse(n, throw new NoSuchElementException(s"no declared query $n")))
  }

  def run(ctx: Bench.Ctx): Unit = {
    val spark = ctx.spark
    val dir   = s"${ctx.data}/star"
    val qs    = queries
    // warm-up pass, untimed: writes each oracle-backed result for the
    // DuckDB comparison run.py makes after the run
    val checkDir = s"${ctx.work}/check"
    ctx.tracer.span("warmup") {
      qs.foreach { q =>
        try {
          val df = q.build(spark, dir)
          // part files keep the result's global order (file names sort
          // in partition order), so the comparison stays row-for-row
          if (q.oracle.isDefined) df.write.mode("overwrite").parquet(s"$checkDir/${q.name}")
          else Bench.noop(df)
        } catch { case e: Throwable => ctx.res.fail(s"warm-up ${q.name}", e) }
      }
    }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"), oracleJson(qs))
    Bench.resetState(spark)

    val l = ctx.res.layers
    val perOp = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
      .withDefaultValue(Nil)
    def add(k: String, v: Double): Unit = perOp(k) = perOp(k) :+ v
    val storageAfter = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
    val nDocs = graft.Tables.documents(spark, dir).count()
    val passes = Passes.loop(ctx, PassS) { (i, traced) =>
      Bench.resetState(spark)
      val t0 = System.nanoTime()
      val ops = qs.map { q =>
        ctx.res.attempted += 1
        val memo0 = Bench.memoCount(spark)
        if (traced) Bench.flush(spark)
        val c0 = ctx.work0.counters
        val a0 = ctx.actions.actions
        val k0 = ctx.work0.skewSeq
        val o0 = System.nanoTime()
        try ctx.tracer.span("op", q.name) {
          val df = ctx.tracer.span("build", q.name)(q.build(spark, dir))
          val b1 = System.nanoTime()
          if (traced) {
            Bench.flush(spark)
            val cb = ctx.work0.counters - c0
            add("Q.build.s", (b1 - o0) / 1e9)
            add("Q.build.jobs", cb.jobs)
            add("Q.build.actions", ctx.actions.actions - a0)
          }
          val cE = ctx.work0.counters
          val e0 = System.nanoTime()
          ctx.tracer.span("exec", q.name)(Bench.noop(df))
          if (traced) {
            add("exec.s", (System.nanoTime() - e0) / 1e9)
            Bench.flush(spark)
            val ce = ctx.work0.counters - cE
            add("exec.jobs", ce.jobs); add("exec.stages", ce.stages); add("exec.tasks", ce.tasks)
            add("exec.shuffle_mb", ce.shuffleBytes / 1048576.0)
            add("exec.spill_mb", ce.spillBytes / 1048576.0)
          }
        } catch { case e: Throwable => ctx.res.fail(s"${q.name} pass $i", e) }
        val secs = (System.nanoTime() - o0) / 1e9
        if (traced) {
          Bench.flush(spark)
          add("exec.cpu_s", (ctx.work0.counters - c0).cpuNs / 1e9)
          add("exec.skew", ctx.work0.worstSkewSince(k0))
          add("memo.fills", (Bench.memoCount(spark) - memo0).max(0))
          val (rdds, bytes) = Storage.held(spark)
          add("storage.rdds", rdds); add("storage.mb", bytes / 1048576.0)
        }
        secs
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (rdds, bytes) = Storage.held(spark)
      storageAfter += ((rdds, bytes, Bench.memoCount(spark)))
      Pass(traced, wall, ops, nDocs, 0, 0)
    }
    Passes.report(ctx, passes)
    // per-operation layer figures: medians over the traced operations,
    // except the worst-case ones (skew, storage), taken as maxima, and the
    // memo fills, counted per traced pass
    perOp.foreach { case (k, vs) =>
      l(k) =
        if (k == "exec.skew" || k.startsWith("storage.")) vs.max
        else if (k == "memo.fills") vs.sum / math.max(1, passes.count(_.traced))
        else Bench.median(vs)
    }
    l("memo.entries_after") = storageAfter.last._3
    l("storage_mb_after") = storageAfter.last._2 / 1048576.0
    ctx.res.info("documents") = nDocs.toString
    ctx.res.info("queries") = Names.mkString(",")
    ctx.res.info("input_bytes") = LinesEtl.dirBytes(dir).toString
  }

  private def oracleJson(qs: Seq[Q]): String =
    Json.write(qs.flatMap(q => q.oracle.map(q.name -> _)).toMap.asJava)
}
