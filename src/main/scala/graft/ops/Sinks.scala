package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Sinks (SURVEY §2.2): the reference's per-day batching + per-day commit
  * (sql_to_line.py:91,126) maps to date-partitioned parquet with per-task
  * atomic commits; its UPDATE-merge maps to an idempotent foreachBatch
  * overwrite of the touched partitions.
  *
  * Scale: `partitionBy(date)` gives partition pruning to every downstream
  * reader and bounds any reprocessing to one day — exactly the reference's
  * unit of recovery. (Delta/Iceberg MERGE is the production path; not
  * available offline.)
  *
  * Encoding: both day-partitioned writers ([[mergeDays]], [[commitBatch]])
  * go through one writer that turns Parquet's dictionary off for every
  * DOUBLE, FLOAT, TIMESTAMP and TIMESTAMP_NTZ leaf column (struct fields
  * by their dotted path, e.g. `geom.sx`); every other column keeps it. A
  * continuous value (a coordinate, `lenm`, `sogkt`) or a µs timestamp
  * rarely repeats within a day file, so its dictionary is either thrown
  * away when the file closes (the chunk falls back to PLAIN) or kept and
  * larger than PLAIN, and building it costs a hash lookup per value on
  * the executor. Strings, integers, booleans and dates repeat (ids,
  * enums, days) and their dictionaries pay.
  */
object Sinks {

  /** Day-scoped idempotent merge (replaceWhere-style): overwrite exactly
    * the date partitions present in `updates` — dynamic partition
    * overwrite — leaving every other day untouched. This is the
    * reference's UPDATE-in-place recovery unit (sql_to_line.py:91,126,
    * 230-234) without a transactional table format: a replayed merge
    * rewrites the same days with the same rows, so double-runs produce
    * identical partition contents (exactly-once per day), where a plain
    * append would duplicate and a static overwrite would drop the
    * untouched days.
    *
    * Caller contract: `updates` must carry COMPLETE days — the merge
    * replaces each touched day wholesale.
    */
  def mergeDays(updates: DataFrame, tsCol: String, outDir: String): Unit =
    writeDays(updates, tsCol, outDir, dynamic = true)

  /** Writes `df` as parquet partitioned by `date = to_date(tsCol)` into
    * `dir`, overwriting it, with the per-column encoding rule of the
    * [[Sinks]] scaladoc. `dynamic` overwrites only the days `df` carries,
    * else all of `dir`. Both are write options, not session conf: a
    * concurrent query on the session never sees them.
    */
  private def writeDays(df: DataFrame, tsCol: String, dir: String, dynamic: Boolean): Unit = {
    val days = df.withColumn("date", to_date(col(tsCol)))
    days.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .options(plainLeaves(days.schema).map(p => s"parquet.enable.dictionary#$p" -> "false").toMap)
      .partitionBy("date")
      .parquet(dir)
  }

  /** Dotted Parquet paths of the DOUBLE, FLOAT and timestamp leaves of
    * `schema`, struct fields included.
    */
  private def plainLeaves(schema: StructType, prefix: String = ""): Seq[String] =
    schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case s: StructType => plainLeaves(s, s"$prefix${f.name}.")
        case DoubleType | FloatType | TimestampType | TimestampNTZType => Seq(prefix + f.name)
        case _ => Nil
      }
    }

  /** The clustering key [[zorderWrite]] sorts by: each dimension is first
    * scaled to the SAME 16-bit range over its observed [min, max], then
    * Morton-interleaved (Lakehouse.zval). The normalization matters: raw
    * domains of unequal width (lineitem's 20k × 1k keys) put one dim's
    * high bits entirely above the other's, and the "z" order degenerates
    * to a single-column sort — measured before the fix, b-only predicates
    * read 334k/600k rows; balanced, ~40k. Runs one small min/max agg over
    * `df` (a second narrow scan — noise next to the full rewrite).
    * Assumes dimension values fit 47 bits (the ×65535 scale must not
    * overflow a long).
    */
  private[graft] def normalizedZ(df: DataFrame, aCol: String,
      bCol: String): org.apache.spark.sql.Column = {
    val r = df.agg(min(aCol).cast("long"), max(aCol).cast("long"),
      min(bCol).cast("long"), max(bCol).cast("long")).head()
    def norm(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else (((col(c).cast("long") - lo) * 65535L) / (hi - lo)).cast("long")
    Lakehouse.zval(norm(aCol, r.getLong(0), r.getLong(1)),
      norm(bCol, r.getLong(2), r.getLong(3)))
  }

  /** Z-order clustered write: key rows by the balanced Morton interleave
    * of two dimension columns ([[normalizedZ]]), range-partition and sort
    * by it. Each output file then covers one tight z interval — a small
    * square in (a, b) space — so its parquet min/max stats are tight on
    * BOTH original columns, and the stock pushed-down range predicates
    * prune row groups for EITHER dimension. A single-column sort prunes
    * only its own column's predicates; the z layout answers "sort by which
    * column?" with "both" (SCALING.md records rows-read across the two
    * layouts and three predicate shapes). The z key is dropped before the
    * write: pruning rides ordinary (a, b) stats — readers need no
    * cooperation, and the layout survives any engine that reads parquet
    * footers.
    */
  def zorderWrite(df: DataFrame, aCol: String, bCol: String, outDir: String,
      numFiles: Int = 64): Unit =
    df.withColumn("__z", normalizedZ(df, aCol, bCol))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  /** SCD Type-2 merge: fold a batch of dimension `updates` (one row per
    * key, stamped `eff_ts` microseconds) into a versioned history table
    * with (`valid_from`, `valid_to`, `is_current`). Rows whose tracked
    * attributes are unchanged pass through untouched; changed keys close
    * their current version (`valid_to` = eff_ts, is_current = false) and
    * append a new open version; unseen keys insert as new open versions.
    * This is the UPDATE-then-INSERT history pattern the reference's
    * in-place merge (sql_to_line.py:230-234) cannot express — and the
    * standard way a warehouse tracks attribute changes over time.
    *
    * Pure DataFrame → DataFrame (caller persists, e.g. via [[mergeDays]]
    * keyed on valid_from): one key-partitioned join + unions, no windows,
    * no collect — history size is Θ(changes), parallelism is by key.
    *
    * `history` schema: key, attrs..., valid_from, valid_to (null = open),
    * is_current. `updates` schema: key, attrs...
    */
  def scd2Merge(history: DataFrame, updates: DataFrame, key: String,
      attrs: Seq[String], effTs: Long): DataFrame = {
    val closed  = history.filter(!col("is_current"))
    // side-presence markers, NOT key nullness: a null dimension key never
    // joins (null ≠ null) but its history row must still pass through —
    // key-as-sentinel would silently delete it on every merge
    val current = history.filter(col("is_current"))
      .withColumn("c_present", lit(true))
    val uKeyed = updates.select(col(key).as("u_key") +:
      attrs.map(a => col(a).as(s"u_$a")): _*)
      .withColumn("u_present", lit(true))

    val changedCond = attrs.map(a => !(col(a) <=> col(s"u_$a"))).reduce(_ || _)
    val joined  = current.join(uKeyed, col(key) === col("u_key"), "full_outer")
    val matched = col("c_present").isNotNull && col("u_present").isNotNull

    // current rows with no (joinable) update, or an identical update
    val untouched = joined.filter(col("c_present").isNotNull &&
        (!matched || !changedCond))
      .select(history.columns.map(col): _*)
    // current rows superseded by a differing update → closed out
    val closedOut = joined.filter(matched && changedCond)
      .select(history.columns.map(col): _*)
      .withColumn("valid_to", lit(effTs))
      .withColumn("is_current", lit(false))
    // differing updates + keys with no current version → new open versions
    val opened = joined.filter(col("u_present").isNotNull &&
        (!matched || changedCond))
      .select(col("u_key").as(key) +: attrs.map(a => col(s"u_$a").as(a)): _*)
      .withColumn("valid_from", lit(effTs))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

    closed.unionByName(untouched).unionByName(closedOut).unionByName(opened)
  }

  /** Streaming with an exactly-once commit protocol over plain parquet —
    * the manifest/commit-log story a transactional table format (Delta/
    * Iceberg, the production path, unavailable offline) would provide,
    * reduced to its essentials. Per micro-batch, [[commitBatch]]:
    *
    *   1. no-ops if `outDir/_manifests/batch-<id>` exists (replay of a
    *      fully committed batch);
    *   2. deletes any `b<id>-*` files a crashed attempt left in the date
    *      partitions (partial publication is keyed by file-name prefix,
    *      so cleanup needs no undo log);
    *   3. stages the batch to a hidden dir, then moves each file into its
    *      final date partition under the `b<id>-` prefix;
    *   4. commit point: atomically renames the manifest marker into place
    *      ([[Manifests]], the log the durable stream folds share).
    *
    * A checkpoint replay therefore converges to IDENTICAL partition
    * contents no matter where the previous attempt died — before the
    * manifest rename the batch is re-published from scratch (step 2
    * removes the partial files), after it the batch is skipped whole.
    * State per batch is one empty marker file; `_manifests` and the
    * `.staging-*` dirs are underscore/dot-prefixed, which parquet readers
    * ignore. Same unit-of-recovery guarantee as the reference's per-day
    * batch commit (sql_to_line.py:126), extended to streaming.
    */
  def streamToPartitionedParquetExactlyOnce(stream: DataFrame, tsCol: String,
      outDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, tsCol, outDir)
      }
      .start()

  /** Idempotent per-micro-batch commit — the foreachBatch body of
    * [[streamToPartitionedParquetExactlyOnce]], exposed so the replay
    * contract is directly testable (SinksSpec kill-and-replay).
    */
  def commitBatch(batch: DataFrame, batchId: Long, tsCol: String,
      outDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root  = new Path(outDir)
    val fs    = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Manifests.commit(spark, outDir, batchId) {
      val prefix = s"b$batchId-"
      // a previous attempt of THIS batch may have died mid-publish: its
      // partial files all carry the b<id>- prefix, so they are removable
      // without any record of how far it got
      if (fs.exists(root)) fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
        .foreach { d =>
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && f.getPath.getName.startsWith(prefix))
            .foreach(f => fs.delete(f.getPath, false))
        }
      val staging = new Path(root, s".staging-batch-$batchId")
      writeDays(batch.withColumn("batch_id", lit(batchId)), tsCol, staging.toString,
        dynamic = false)
      // Every publish step is checked: a silently failed rename followed by
      // the staging delete + manifest commit would be permanent data loss
      // under an exactly-once marker. A throw here comes BEFORE either, so
      // a replay finds no manifest, clears the b<id>- partials, and redoes
      // the publish from intact staged files.
      def must(ok: Boolean, what: => String): Unit =
        Manifests.must(ok, s"commitBatch($batchId): $what")
      fs.listStatus(staging)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
        .foreach { d =>
          val dest = new Path(root, d.getPath.getName)
          must(fs.mkdirs(dest) || fs.getFileStatus(dest).isDirectory,
            s"mkdirs failed: $dest")
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .foreach { f =>
              val target = new Path(dest, prefix + f.getPath.getName)
              must(fs.rename(f.getPath, target), s"rename ${f.getPath} -> $target")
            }
        }
      fs.delete(staging, true)
    }
  }

  /** The one manifest log of the engine: the exactly-once sink
    * ([[commitBatch]], [[readAsOf]]) and the durable stream folds
    * (`Streams.FoldState`) commit and list through it. A committed id is
    * one empty marker `dir/_manifests/batch-<id>`, zero-padded so a
    * lexical listing is also the commit order. The marker is created as
    * `.tmp-<id>` and renamed into place — the commit point — so a crash
    * between the two leaves a dot-file that [[committed]] does not count,
    * and the next commit of that id overwrites it. `_manifests` is
    * underscore-prefixed, which parquet readers skip.
    */
  private[graft] object Manifests {
    import org.apache.hadoop.fs.{FileSystem, Path}

    private def logOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
      val log = new Path(dir, "_manifests")
      (log.getFileSystem(spark.sparkContext.hadoopConfiguration), log)
    }

    private def marker(log: Path, id: Long): Path = new Path(log, f"batch-$id%020d")

    /** Hadoop FileSystem.rename/mkdirs report failure by RETURNING FALSE,
      * not throwing; every commit step is checked through this.
      */
    private[graft] def must(ok: Boolean, what: => String): Unit =
      if (!ok) throw new java.io.IOException(what)

    /** The committed ids of `dir`, ascending. */
    def committed(spark: SparkSession, dir: String): Seq[Long] = {
      val (fs, log) = logOf(spark, dir)
      if (!fs.exists(log)) Nil
      else fs.listStatus(log).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("batch-") => n.stripPrefix("batch-").toLong }
        .sorted
    }

    /** Commits `id` in `dir`: false, running nothing, when `id` is
      * already committed — same id ⇒ same data under the Structured
      * Streaming re-delivery contract, so the skip is what makes a replay
      * idempotent. Otherwise runs `publish`, then creates `_manifests` and
      * renames the `.tmp-<id>` marker into place, and returns true. A
      * `publish` that throws leaves `id` uncommitted.
      */
    def commit(spark: SparkSession, dir: String, id: Long)(publish: => Unit): Boolean = {
      val (fs, log) = logOf(spark, dir)
      val done = marker(log, id)
      if (fs.exists(done)) return false
      publish
      must(fs.mkdirs(log) || fs.getFileStatus(log).isDirectory,
        s"Manifests.commit($dir, $id): mkdirs failed: $log")
      val tmp = new Path(log, s".tmp-$id")
      fs.create(tmp, true).close()
      must(fs.rename(tmp, done), s"Manifests.commit($dir, $id): manifest rename $tmp -> $done")
      true
    }

    /** Removes `id`'s marker (garbage collection of a superseded commit). */
    def drop(spark: SparkSession, dir: String, id: Long): Unit = {
      val (fs, log) = logOf(spark, dir)
      fs.delete(marker(log, id), false)
    }
  }

  /** Time-travel read of the exactly-once sink: the rows of every
    * COMMITTED batch with id <= `asOfBatch` — the `VERSION AS OF` face of
    * the manifest log, reduced to essentials like [[commitBatch]] itself.
    *
    * Consistency comes from reading the COMMIT LOG, not the data files: a
    * crashed attempt's partial `b<id>-` files (manifest never landed) and
    * any batch still publishing are filtered out by batch id, so the
    * snapshot is stable mid-crash and mid-ingest. The committed-id set is
    * one driver-side `_manifests` listing — O(total batches), the same
    * scale Delta/Iceberg logs carry.
    *
    * Scale-stable membership (round 7 — formerly a literal IN-list, which
    * degenerates into an O(batches)-literal expression tree at O(10⁵)
    * commits): the filter is the WATERMARK predicate
    * `batch_id <= max(committed ≤ asOf)` — a single pushed-down
    * comparison, so parquet row-group stats still prune whole files (each
    * published file holds exactly one batch id) and date-partition pruning
    * still applies — plus a broadcast LEFT ANTI join against the HOLES
    * below the watermark (ids with no manifest: crashed attempts whose
    * successor committed first). Streaming batch ids are dense, so the
    * hole set is bounded by failed attempts — almost always empty, never
    * O(commits) — and when it is empty the plan is just the filtered scan.
    */
  def readAsOf(spark: SparkSession, outDir: String, asOfBatch: Long): DataFrame = {
    val committed = Manifests.committed(spark, outDir).filter(_ <= asOfBatch)
    require(committed.nonEmpty,
      s"readAsOf($asOfBatch): no committed batch at or before that id in $outDir")
    val watermark    = committed.max
    val committedSet = committed.toSet
    val holes        = (0L to watermark).filterNot(committedSet)
    val base = spark.read.parquet(outDir).filter(col("batch_id") <= watermark)
    if (holes.isEmpty) base
    else {
      import spark.implicits._
      base.join(broadcast(holes.toDF("batch_id")), Seq("batch_id"), "left_anti")
    }
  }
}
