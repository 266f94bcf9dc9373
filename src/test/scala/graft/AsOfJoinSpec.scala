package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("matches an independent window-rank formulation on real data") {
    val l = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val r = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) + col("o_orderkey")).as("ous"))
    val got = AsOfJoin(l, r, l("user_id"), r("o_custkey"), l("us"), r("ous"))
      .select(col("event_id"), col("o_orderkey"), col("ous"))
    // reference: join all candidates, keep max-ous per event (left outer)
    val w = Window.partitionBy(col("event_id")).orderBy(col("ous").desc)
    val want = l.join(r, l("user_id") === r("o_custkey") && r("ous") <= l("us"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"), col("ous"))
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("AsOfJoin installs its planner strategy once on a fresh session") {
    import org.apache.spark.sql.SparkSession
    val old = spark
    // a fresh session (no extensions, no strategies yet) must get exactly
    // one AsOfStrategy however many as-of joins it builds
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().getOrCreate()
      assert(s2 ne old, "expected a fresh session for the install test")
      assert(s2.experimental.extraStrategies.isEmpty,
        "a fresh session must start without the as-of strategy")
      val l = s2.range(3).selectExpr("id AS k", "id * 10 AS t")
      val r = s2.range(3).selectExpr("id AS k2", "id * 10 - 5 AS t2", "id AS v")
      AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
      val df = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
      assert(s2.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy) === 1,
        s2.experimental.extraStrategies.toString)
      assert(s2.experimental.extraStrategies.size === 1)
      // the exec node renders with "Exec" stripped
      assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin "),
        df.queryExecution.executedPlan.toString.take(800))
      assert(df.count() === 3)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("mismatched key/ts types fail fast at construction, not at runtime") {
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1, 5L, "a")).toDF("k2", "t2", "v") // k2 is INT, not BIGINT
    val e = intercept[IllegalArgumentException] {
      AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
    }
    assert(e.getMessage.contains("key types differ"), e.getMessage)
    val r2 = Seq((1L, "x", "a")).toDF("k2", "t2", "v") // ts is STRING
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin(l, r2, l("k"), r2("k2"), l("t"), r2("t2"))
    }
    assert(e2.getMessage.contains("timestamp types differ"), e2.getMessage)
  }

  test("unmatched keys and too-early timestamps yield nulls") {
    val l = Seq((1L, 10L), (1L, 3L), (2L, 100L)).toDF("k", "t")
    val r = Seq((1L, 5L, "a"), (1L, 9L, "b"), (3L, 1L, "c")).toDF("k2", "t2", "v")
    val got = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
      .select(col("k"), col("t"), col("v")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
    assert(got === Set((1L, 10L, "b"), (1L, 3L, null), (2L, 100L, null)))
  }

  test("plans as one exchange + sort per side (sort-merge shape)") {
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 5L, "a")).toDF("k2", "t2", "v")
    val plan = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // nodeName strips the Exec suffix
    assert("(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(plan).length === 2, plan)
  }

  test("output feeds shuffle/collect consumers directly (UnsafeRow contract)") {
    val l = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
    val r = Seq((1L, 5L, "a")).toDF("k2", "t2", "v")
    val j = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
    // no projection in between: aggregate + bare collect both require
    // UnsafeRow from the exec
    assert(j.groupBy("k").count().count() === 2)
    assert(j.collect().length === 2)
  }

  test("NULL keys and timestamps never match (including against key 0)") {
    val l = Seq((Some(0L), Some(10L)), (None, Some(10L)), (Some(1L), None))
      .toDF("k", "t")
    val r = Seq((0L, 5L, "zero")).toDF("k2", "t2", "v")
    val got = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
      .select(col("k"), col("v")).collect()
      .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0), x.getString(1))).toSet
    assert(got === Set((0L, "zero"), (-1L, null), (1L, null)))
  }

  test("string keys order correctly (interpreted ordering + buffer copy path)") {
    val l = Seq(("alpha", 10L), ("beta", 10L), ("gamma", 10L)).toDF("k", "t")
    val r = Seq(("alpha", 5L, 1), ("beta", 3L, 2), ("beta", 7L, 3), ("delta", 1L, 4))
      .toDF("k2", "t2", "v")
    val got = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2"))
      .select(col("k"), col("v")).collect()
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1 else x.getInt(1))).toSet
    assert(got === Set(("alpha", 1), ("beta", 3), ("gamma", -1)))
  }

  test("inclusive boundary: rightTs == leftTs matches") {
    val l = Seq((1L, 5L)).toDF("k", "t")
    val r = Seq((1L, 5L, "x")).toDF("k2", "t2", "v")
    val got = AsOfJoin(l, r, l("k"), r("k2"), l("t"), r("t2")).select("v").head()
    assert(got.getString(0) === "x")
  }
}
