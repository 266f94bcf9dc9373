package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** `Diag scale`'s replication: replicas of every table that share no key,
  * so a declared query over ×m tables answers m copies of its ×1 answer.
  */
class ScaleSpec extends SparkSpec {

  private def withTempDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "scale").toString
    try body(dir) finally FileUtils.deleteDirectory(new File(dir))
  }

  test("×2 replication doubles every table but nation/region and keeps keys unique") {
    withTempDir { dir =>
      val x2 = s"$dir/x2"
      Diag.replicate(spark, sfDir, x2, 2)
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.foreach { t =>
        val want = Tables(spark, sfDir, t).count() * (if (Diag.Unreplicated(t)) 1 else 2)
        assert(Tables(spark, x2, t).count() === want, t)
      }
      Seq("nation", "region").foreach { t =>
        val (a, b) = (Tables(spark, sfDir, t), Tables(spark, x2, t))
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t changed")
      }
      Seq("orders" -> "o_orderkey", "customer" -> "c_custkey", "part" -> "p_partkey",
          "supplier" -> "s_suppkey", "events" -> "event_id", "documents" -> "doc_id",
          "embeddings" -> "vec_id").foreach { case (t, k) =>
        val df = Tables(spark, x2, t)
        assert(df.select(k).distinct().count() === df.count(), s"$t.$k not unique")
      }
      assert(Tables(spark, x2, "events").select("user_id").distinct().count() ===
        2 * Tables(spark, sfDir, "events").select("user_id").distinct().count())
      Seq(("orders", "o_orderkey", "lineitem", "l_orderkey"),
          ("customer", "c_custkey", "orders", "o_custkey"),
          ("part", "p_partkey", "lineitem", "l_partkey"),
          ("supplier", "s_suppkey", "lineitem", "l_suppkey")).foreach {
        case (pt, pk, ft, fk) =>
          def joined(d: String) =
            Tables(spark, d, pt).join(Tables(spark, d, ft), col(pk) === col(fk)).count()
          val base = joined(sfDir)
          assert(base > 0 && joined(x2) === 2 * base, s"$ft.$fk → $pt.$pk")
      }
      Seq("q_sessionize", "q_transform_3005").foreach { q =>
        val base = SparkEntry.queries(q)(spark, sfDir).count()
        assert(base > 0 && SparkEntry.queries(q)(spark, x2).count() === 2 * base, q)
      }
    }
  }

  test("replicas of sf0.1's user_id range (0–1499) share no user") {
    // a fixed per-replica shift of 1000 would map replica 1's users onto
    // 1000–2499, colliding with replica 0's 1000–1499
    withTempDir { dir =>
      val src = s"$dir/src"
      spark.range(0, 1500).select(col("id").as("event_id"), col("id").as("user_id"))
        .write.parquet(s"$src/events.parquet")
      Diag.replicate(spark, src, s"$dir/x2", 2)
      val users = Tables(spark, s"$dir/x2", "events").select("user_id")
      assert(users.count() === 3000 && users.distinct().count() === 3000)
    }
  }

  test("plan reports a failing query and still runs the others") {
    withTempDir { dir =>
      val failed = Diag.plan(spark, sfDir, Seq("q_no_such_query", "q_daily_counts"), Some(dir))
      assert(failed === Seq("q_no_such_query"))
      assert(new File(s"$dir/q_daily_counts.txt").isFile)
      assert(new File(s"$dir/q_daily_counts_final.txt").isFile)
    }
  }
}
