package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (dev iteration only — the driver passes 2): comma-
    // separated query names; restricts both the parquet dump and the
    // oracle-sql manifest so scripts/check.py checks just the subset
    val only: String => Boolean = args.lift(2) match {
      case Some(names) => names.split(",").toSet
      case None        => _ => true
    }
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any output from a previous run so a failed query can never
        // false-pass the comparison against stale parquet
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.filter(kv => only(kv._1)).asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
