package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.GraftSparkBridge.waitListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, lit, max, min}

/** The diagnostic main. Every query runs through its declared `build`, the
  * code the oracle checks:
  *
  * {{{
  * runMain graft.Diag plan  <sfDir> <q,…|all> [outDir]
  * runMain graft.Diag scale <sfDir> <scratchDir> <q,…|all> <m…>
  * }}}
  *
  * `plan` prints one line per query: build, cold-count and warm-count
  * seconds with the Spark jobs each ran and the codegen classes each
  * compiled (the session warm-up lands in the first query's build); the
  * tasks, stages and executor time of those three phases and the task
  * spread of their heaviest stage; the largest generated method (`HUGE`
  * above [[HugeMethodLimit]]); and the initial plan's exchanges,
  * broadcasts and sorts, flagging cartesian products and nested-loop
  * joins. With `outDir` it also writes each query's formatted
  * initial and final plans.
  *
  * `scale` writes every table ×m to `<scratchDir>/x<m>` ([[replicate]]) and
  * runs `plan` over that directory, once per multiple. One directory per
  * multiple keeps [[Memo]]'s dir-keyed entries apart; the memos are cleared
  * after each multiple.
  *
  * A query that throws is named on stderr, the others still run, and the
  * main exits 1 at the end.
  */
object Diag {

  /** HotSpot's `HugeMethodLimit`: the JIT never compiles a method with more
    * bytecode than this, so a whole-stage-codegen loop above it runs in the
    * interpreter.
    */
  val HugeMethodLimit = 8000

  /** Runs `df` (untimed, rows discarded) so its adaptive plan is final, then
    * returns the bytecode size of the largest method the plan's
    * whole-stage-codegen stages compile to: 0 without such a stage, -1 if
    * one did not compile.
    */
  def maxMethodBytes(df: DataFrame): Int = {
    df.queryExecution.toRdd.foreach(_ => ())
    val stats = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
    if (stats.exists(_ < 0)) -1 else (0 +: stats).max
  }

  /** Tasks, stages and executor time, and the stage with the most task time. */
  private def summary(s: Trace.Stats): String = {
    val top = s.worst.fold("") { w =>
      f", top stage ${w.stageId}: n=${w.n} max=${w.maxMs / 1e3}%.2f med=${w.medianMs / 1e3}%.2f s"
    }
    f"${s.tasks} tasks in ${s.stages} stages, run ${s.runMs / 1e3}%.1f s, " +
      f"cpu ${s.cpuNs / 1e9}%.1f s, gc ${s.gcMs / 1e3}%.1f s, " +
      f"fetch wait ${s.fetchWaitMs / 1e3}%.1f s$top"
  }

  /** Runs each named query (build, cold count, warm count) over `sfDir`,
    * printing one line each, tagged with `tag`. Returns the failed names.
    */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String], tag: String = ""): Seq[String] = {
    val declared = SparkEntry.queries
    val trace = new Trace
    val sc = spark.sparkContext
    sc.addSparkListener(trace)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    def write(name: String, df: DataFrame): Unit = outDir.foreach { d =>
      Files.write(Paths.get(d, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode).getBytes("UTF-8"))
    }
    try names.filter { name =>
      try {
        val (df, build) = Metrics.observe(spark, name, "build")(declared(name)(spark, sfDir))
        // ReusedExchange re-reads an existing shuffle — not a new exchange
        val initial = df.queryExecution.executedPlan.toString
        val xchg  = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(initial).length
        val bcast = "BroadcastExchange".r.findAllIn(initial).length
        val sort  = raw"\bSort\b".r.findAllIn(initial).length
        val flags = Seq("CartesianProduct" -> " CARTESIAN", "BroadcastNestedLoopJoin" -> " bnlj")
          .collect { case (op, flag) if initial.contains(op) => flag }.mkString
        write(name, df)
        val (rows, cold) = Metrics.observe(spark, name, "cold")(df.count())
        val (_, warm) = Metrics.observe(spark, name, "warm")(df.count())
        waitListenerBus(sc, 10000L)
        val traced = trace.snapshot
        def phase(p: String, s: Double): String = {
          val t = traced.getOrElse((name, p), Trace.Stats())
          f"$s%.2f s/${t.jobs} jobs/${t.compiles} compiles"
        }
        val method = maxMethodBytes(df)
        write(s"${name}_final", df)
        val huge = if (method > HugeMethodLimit) " HUGE" else ""
        println(s"[diag] $tag$name: build ${phase("build", build)}, cold ${phase("cold", cold)}, " +
          s"warm ${phase("warm", warm)}, $rows rows; ${summary(trace.total(name))}; " +
          s"max method $method B$huge; xchg $xchg bcast $bcast sort $sort$flags")
        false
      } catch { case NonFatal(e) =>
        System.err.println(s"[diag] $tag$name failed: $e")
        true
      }
    } finally sc.removeSparkListener(trace)
  }

  /** Key domains: a foreign key shifts with its primary key. */
  private val KeyDomains: Seq[Seq[(String, String)]] = Seq(
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("events" -> "event_id"),
    Seq("events" -> "user_id"),
    Seq("documents" -> "doc_id"),
    Seq("embeddings" -> "vec_id"))

  /** Dimension tables copied unchanged. */
  val Unreplicated = Set("nation", "region")

  /** Replica i's shift of each key column of `tables`: i × the smallest
    * power of ten above its domain's max, so replicas never share a key.
    */
  private def keySteps(spark: SparkSession, sfDir: String,
      tables: Seq[String]): Map[(String, String), Long] = {
    val maxOf = tables.flatMap { t =>
      val keys = KeyDomains.flatten.filter(_._1 == t).map(_._2)
      if (keys.isEmpty) Nil
      else {
        val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
        val r = Tables(spark, sfDir, t).agg(aggs.head, aggs.tail: _*).head()
        def at(j: Int): Long = if (r.isNullAt(j)) 0L else r.getAs[Number](j).longValue
        keys.zipWithIndex.map { case (k, i) =>
          require(at(2 * i) >= 0, s"$t.$k has negative keys; replicas would overlap")
          (t, k) -> at(2 * i + 1)
        }
      }
    }.toMap
    KeyDomains.flatMap { domain =>
      val present = domain.filter(maxOf.contains)
      val hi = present.map(maxOf).maxOption.getOrElse(0L)
      val step = Iterator.iterate(1L)(_ * 10).dropWhile(_ <= hi).next()
      present.map(_ -> step)
    }.toMap
  }

  /** Writes every parquet table of `sfDir` to `outDir` ×m: replica i shifts
    * each key column by i × its [[keySteps]] step and keeps text as is;
    * [[Unreplicated]] tables are copied once.
    */
  def replicate(spark: SparkSession, sfDir: String, outDir: String, m: Int): Unit = {
    require(m >= 1, s"multiple must be at least 1, got $m")
    val tables = Option(new java.io.File(sfDir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    require(tables.nonEmpty, s"no parquet tables under $sfDir")
    val steps = keySteps(spark, sfDir, tables)
    tables.foreach { t =>
      val df = Tables(spark, sfDir, t)
      val copies = if (Unreplicated(t)) 1 else m
      (0 until copies).map { i =>
        df.select(df.schema.fields.toSeq.map { f =>
          steps.get(t -> f.name).fold(col(f.name)) { step =>
            (col(f.name) + lit(i * step)).cast(f.dataType).as(f.name)
          }
        }: _*)
      }.reduce(_ union _).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    def names(arg: String): Seq[String] =
      if (arg == "all") SparkEntry.all.map(_.name)
      else arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val run: SparkSession => Seq[String] = args.toList match {
      case "plan" :: sfDir :: qs :: out if out.size <= 1 =>
        plan(_, sfDir, names(qs), out.headOption)
      case "scale" :: sfDir :: scratch :: qs :: ms
          if ms.nonEmpty && ms.forall(_.matches("[1-9][0-9]*")) => spark =>
        ms.map(_.toInt).flatMap { m =>
          val dir = s"$scratch/x$m"
          val t0 = System.nanoTime()
          replicate(spark, sfDir, dir, m)
          println(f"[diag] x$m: tables written to $dir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
          try plan(spark, dir, names(qs), None, s"x$m ") finally Memo.clear(spark)
        }
      case _ =>
        System.err.println("usage: graft.Diag plan <sfDir> <q,…|all> [outDir]\n" +
          "       graft.Diag scale <sfDir> <scratchDir> <q,…|all> <m…>")
        sys.exit(2)
    }
    val spark = Session.local()
    val failed = try run(spark) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[diag] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
