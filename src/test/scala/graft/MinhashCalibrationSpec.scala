package graft

import org.apache.spark.sql.functions._

/** Equality gate for the round-15 cluster-plane calibration rewrite: the
  * weighted cluster-pair candidate frame must aggregate to exactly the
  * curve the doc-level tiled self-join produced. The rewrite rests on two
  * facts — band collision, sig_agree, inter and uni are functions of the
  * two token SETS alone, and identical signatures always collide — and
  * this spec is their executable form on real data. (The DuckDB oracle
  * hash-checks the same equality cross-engine at every shipped scale.)
  */
class MinhashCalibrationSpec extends SparkSpec {

  test("cluster-plane weighted calibration ≡ doc-level reference curve") {
    val fast = SparkEntry.queries("q_minhash_calibration")(spark, sfDir)
      .collect()
    val ref = DedupReference.bandedCandidatesAllReference(spark, sfDir)
      .groupBy("sig_agree")
      .agg(count(lit(1)).as("n_pairs"), sum("inter").as("sum_inter"),
        sum("uni").as("sum_uni"))
      .orderBy("sig_agree")
      .collect()
    assert(fast.length === ref.length)
    fast.zip(ref).foreach { case (a, b) => assert(a === b) }
  }
}
