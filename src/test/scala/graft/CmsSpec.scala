package graft

import org.apache.spark.sql.functions._

import graft.functions.{CountMin, CountMinAgg}

/** Count–Min sketch guarantees (functions/CountMin.scala), asserted
  * against exact counts on the sf0.001 token stream. The cross-engine
  * cell-exactness of the sketch itself is the q_cms_counts oracle; here
  * live the properties the oracle can't express: aggregator ≡ declarative
  * twin, partitioning invariance, and the overestimate-only envelope.
  */
class CmsSpec extends SparkSpec {
  import spark.implicits._

  private def toks = Tables.documents(spark, sfDir)
    .select(explode(split(col("text"), " ")).as("tok")).as[String]

  test("typed aggregator equals the declarative cell build cell-for-cell") {
    val sk = toks.select((new CountMinAgg).toColumn).head()
    // the q_cms_counts cells, through the cell map the queries run
    val declared = toks.toDF("tok")
      .select(graft.functions.exprs.poly_hash(col("tok")).as("h"))
      .select(explode(ops.Sketches.cmsBuckets(col("h"))).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Int, Int, Long)].collect()
      .map { case (j, b, c) => (j * CountMin.W + b) -> c }.toMap
    (0 until CountMin.D * CountMin.W).foreach { i =>
      assert(sk.cells(i) === declared.getOrElse(i, 0L),
        s"cell $i: aggregator ${sk.cells(i)} vs declarative ${declared.getOrElse(i, 0L)}")
    }
  }

  test("sketch is partitioning-invariant and never underestimates") {
    val sk1  = toks.repartition(1).select((new CountMinAgg).toColumn).head()
    val sk32 = toks.repartition(32).select((new CountMinAgg).toColumn).head()
    assert(sk1.cells.toSeq === sk32.cells.toSeq,
      "merge order changed the sketch — counters must be linear")
    val exact = toks.groupBy("tok").count().as[(String, Long)].collect()
    exact.foreach { case (t, c) =>
      val e = CountMin.estimate(sk1, t)
      assert(e >= c, s"CMS underestimated '$t': $e < $c")
    }
  }

  test("under forced collisions: overestimate-only within the collision envelope") {
    // the fixture corpus has a ~31-word vocabulary — zero collisions in
    // 4×256 cells, so the envelope there is vacuous. Force the collision
    // regime: 4096 distinct tokens (4x the row width) over 50k draws.
    val wide = spark.range(50000)
      .select(concat(lit("t"), (col("id") % 4096)).as("tok")).as[String]
    val sk    = wide.select((new CountMinAgg).toColumn).head()
    val exact = wide.groupBy("tok").count().as[(String, Long)].collect()
    val n     = exact.map(_._2).sum
    // expected collision mass is n/w per row; min over D rows sits well
    // under one row's mass — 4n/w is generous headroom
    val envelope   = 4L * n / CountMin.W
    var overcounts = 0L
    exact.foreach { case (t, c) =>
      val e = CountMin.estimate(sk, t)
      assert(e >= c, s"CMS underestimated '$t': $e < $c")
      assert(e - c <= envelope,
        s"CMS overcount for '$t' outside envelope: est $e, true $c, n $n")
      overcounts += e - c
    }
    // non-vacuity: this regime MUST collide, or the test proves nothing
    assert(overcounts > 0, "no collisions at 4096 tokens over 1024 cells?")
  }
}
