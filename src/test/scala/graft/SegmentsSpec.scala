package graft

import org.apache.spark.sql.functions._
import graft.geo.Albers
import graft.ops.{PostingLines, Segments}

/** Segment synthesis and the merged geometry at sf0.01, the smallest shipped
  * scale with already-processed rows of zero duration.
  */
class SegmentsSpec extends SparkSpec {
  override def sfDir: String =
    new java.io.File(new java.io.File(TestSpark.sf0001).getParentFile, "sf0.01").getPath

  test("Segments.df materializes under ANSI; sogkt is NULL exactly where duration = 0") {
    val seg = Segments.df(spark, sfDir)
    seg.write.format("noop").mode("overwrite").save()
    val processed = seg.filter(col("geom").isNotNull)
    val zero      = processed.filter(col("duration") === 0)
    assert(zero.count() > 0, "no processed zero-duration rows to exercise")
    val nullSpeed = processed.filter(col("sogkt").isNull).select("segmentid")
    assert(nullSpeed.except(zero.select("segmentid")).count() === 0)
    assert(zero.select("segmentid").except(nullSpeed).count() === 0)
  }

  test("every merged row matches Albers.forwardScala geometry, length and speed") {
    val rows = PostingLines.merged(spark, sfDir)
      .select("startlon", "startlat", "endlon", "endlat", "duration",
        "geom.sx", "geom.sy", "geom.ex", "geom.ey", "geom.srid", "lenm", "sogkt")
      .collect()
    val total = Segments.df(spark, sfDir).filter(col("duration") =!= 0).count()
    assert(rows.length.toLong === total)
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    val bad = rows.filterNot { r =>
      val (sx, sy) = Albers.forwardScala(r.getDouble(0), r.getDouble(1))
      val (ex, ey) = Albers.forwardScala(r.getDouble(2), r.getDouble(3))
      val len = math.sqrt((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy))
      near(r.getDouble(5), sx) && near(r.getDouble(6), sy) &&
      near(r.getDouble(7), ex) && near(r.getDouble(8), ey) && r.getInt(9) == 3005 &&
      near(r.getDouble(10), len) &&
      near(r.getDouble(11), len / r.getInt(4) * Segments.KnotsPerMps)
    }
    assert(bad.isEmpty, s"${bad.length} of ${rows.length} rows off, e.g. ${bad.take(3).mkString("; ")}")
  }
}
