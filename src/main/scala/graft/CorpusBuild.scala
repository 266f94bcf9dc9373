package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus build CLI: the full training-data pipeline composed
  * from the shipped operators and materialized to disk —
  *
  *   documents → language filter + C4/Gopher quality gates → near-dup
  *   representative selection (MinHash + connected components) → PII
  *   redaction of the emitted text → deterministic train/valid/test
  *   split → parquet partitioned by split.
  *
  * This is the artifact a training job actually consumes: readers of one
  * split prune to its partition; split membership is the reproducible
  * integer hash (re-ingest keeps eval sets uncontaminated); each stage is
  * the same code the oracle-checked queries run.
  *
  *   sbt "runMain graft.CorpusBuild /root/testdata/sf0.001 /tmp/corpus_out"
  */
object CorpusBuild {

  /** The composed corpus with its split column (no I/O — testable). The
    * split is [[ops.Sampling.split]] — the SAME expression the
    * oracle-checked q_split_train_test runs, so the materialized corpus
    * can never drift from the verified split definition.
    */
  def corpusWithSplit(spark: SparkSession, sfDir: String) =
    ops.Corpus.trainingCorpus(spark, sfDir)
      .withColumn("split", ops.Sampling.split(ops.Sampling.bucket100(col("doc_id"))))

  /** Shard-route option: when `hrwShards` is set, each document also gets
    * its rendezvous (HRW) shard — the elastic layout (ops.Shards.hrwShard,
    * the oracle-checked q_rendezvous_shards assignment): resizing the
    * fleet later moves only ≈ 1/(N±1) of the keys, in the arrivals-only
    * direction, where the mod-N scatter would reshuffle nearly all of
    * them. A narrow per-row argmax — the extra column costs no shuffle;
    * the write partitions by (split, shard) so a training job reading one
    * split still prunes, and each shard is one file set.
    */
  def build(spark: SparkSession, sfDir: String, outDir: String,
      hrwShards: Option[Int] = None): Unit = hrwShards match {
    case None =>
      corpusWithSplit(spark, sfDir)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("split")
        .parquet(outDir)
    case Some(n) =>
      corpusWithSplit(spark, sfDir)
        .withColumn("shard", ops.Shards.hrwShard(col("doc_id"), n))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("split", "shard")
        .parquet(outDir)
  }

  def main(args: Array[String]): Unit = {
    val sfDir  = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/corpus_out"
    val hrwShards = if (args.length > 2) Some(args(2).toInt) else None
    val spark = Session.local()
    build(spark, sfDir, outDir, hrwShards)
    val back = spark.read.parquet(outDir)
    back.groupBy("split").count().orderBy("split").collect()
      .foreach(r => println(s"[corpus] ${r.getString(0)}: ${r.getLong(1)} docs"))
    // release this session's memo entries before teardown: a long-lived
    // session embedding this CLI should not retain sf-dir-keyed cached
    // frames after the build completes
    Memo.clear(spark)
    spark.stop()
  }
}
