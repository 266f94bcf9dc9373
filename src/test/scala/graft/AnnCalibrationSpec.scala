package graft

/** Equality gate for the round-15 single-pass calibration rewrite: the
  * rank-tagged one-join-per-family sweep must reproduce, row for row, the
  * per-setting reference formulation it replaced (one full candidate join
  * + two aggregations per swept setting). The rewrite rests on three
  * structural facts — probeCells slices one best-first cell order, the
  * LSH flip-mask list is a prefix take, TopKAgg's (cos DESC, id ASC)
  * ordering is deterministic and merge-order-independent — and this spec
  * is the executable form of that argument on real data.
  */
class AnnCalibrationSpec extends SparkSpec {

  test("single-pass calibration sweep ≡ per-setting reference, row for row") {
    val fast = ops.Similarity.annCalibration(spark, sfDir).collect()
    val ref  = SimilarityReference.annCalibrationReference(spark, sfDir).collect()
    assert(fast.length === ref.length)
    fast.zip(ref).foreach { case (a, b) => assert(a === b) }
  }
}
