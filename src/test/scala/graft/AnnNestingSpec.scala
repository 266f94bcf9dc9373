package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The single-pass calibration sweep reads every setting of an ANN family
  * off ONE candidate join at the family's largest setting, which holds only
  * if the candidate sets nest from one setting to the next.
  * AnnCalibrationSpec checks the sweep against the per-setting reference
  * through aggregate counts; this spec checks the nesting pair by pair on
  * the shipped fixture: each production scorer at setting p equals the
  * shared join at the largest setting, cut to the rows its tag puts below p.
  */
class AnnNestingSpec extends SparkSpec {
  import ops.Similarity._

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("p_id", "c_id", "cos_r").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  test("each LSH setting's scored pairs are the mi < p cut of the tagged join at the max setting") {
    val emb = Tables.embeddings(spark, sfDir)
    val tagged = lshTaggedFrom(emb, NumTables, NumPlanes, LshSweep.max)
    val sizes = LshSweep.map { p =>
      val scored = triples(lshScoredFrom(emb, NumTables, NumPlanes, p))
      assert(scored.distinct.size === scored.size, s"p=$p: lshScoredFrom repeats a pair")
      assert(scored.toSet === triples(tagged.filter(col("mi") < p)).toSet, s"p=$p")
      scored.size
    }
    assert(sizes.head > 0 && sizes.last > sizes.head, s"no nesting to check: $sizes")
  }

  test("each IVF setting's scored rows are the pr < p cut of the cell join at the max setting") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = kmeansCentroidsFrom(emb)
    val indexed = ivfAssign(emb, cents)
    val joined = ivfJoin(indexed, cents, IvfSweep.max)
    val sizes = IvfSweep.map { p =>
      val scored = triples(ivfScored(indexed, cents, p)).sorted
      assert(scored === triples(joined.filter(col("pr") < p)).sorted, s"nprobe=$p")
      scored.size
    }
    assert(sizes.head > 0 && sizes.last > sizes.head, s"no nesting to check: $sizes")
  }
}
