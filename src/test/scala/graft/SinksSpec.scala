package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{PostingLines, Sinks}
import graft.streaming.Streams.Event

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sinks").toString

  test("date-partitioned write round-trips and prunes partitions") {
    val out    = tmp()
    val merged = PostingLines.merged(spark, sfDir)
    Sinks.mergeDays(merged.drop("geom"), "starttime", out)
    val back = spark.read.parquet(out)
    assert(back.count() === merged.count())
    // partition layout exists on disk (date=YYYY-MM-DD dirs)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("date="))
    assert(dirs.length > 1, "expected one directory per day")
    // a date filter prunes: read of one partition returns only that day
    val day = dirs.head.getName.stripPrefix("date=")
    val one = spark.read.parquet(out).filter(col("date") === day)
    assert(one.count() > 0 && one.count() < merged.count())
  }

  test("zorderWrite round-trips, files carry disjoint z intervals and tight 2-d boxes") {
    val out = tmp()
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    Sinks.zorderWrite(li, "l_partkey", "l_suppkey", out, numFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.except(li).count() === 0 && li.except(back).count() === 0,
      "z-order rewrite changed table contents")
    // per-file z intervals (the NORMALIZED z the sink actually sorted by —
    // bounds recompute identically since contents round-tripped): range
    // partitioning must make them pairwise disjoint (equal keys land in
    // one partition)
    val perFile = back
      .withColumn("z", ops.Sinks.normalizedZ(back, "l_partkey", "l_suppkey"))
      .groupBy(input_file_name().as("f"))
      .agg(min("z").as("zlo"), max("z").as("zhi"),
        (max("l_partkey") - min("l_partkey")).as("aw"),
        (max("l_suppkey") - min("l_suppkey")).as("bw"))
      .orderBy("zlo")
      .collect()
    assert(perFile.length > 1, "expected multiple files")
    perFile.sliding(2).foreach { w =>
      assert(w(0).getAs[Long]("zhi") < w(1).getAs[Long]("zlo"),
        "file z intervals overlap — range partitioning on z broke")
    }
    // the point of the layout: most files' bounding boxes are tight in
    // BOTH dims (vs global widths 199 × 9 at sf0.001) so (a, b) min/max
    // stats can prune either dimension's predicates. Boundary files whose
    // z interval straddles a quadrant edge may span wider — demand
    // tightness of the majority, in both dims at once.
    val tight = perFile.count(r =>
      r.getAs[Long]("aw") <= 100 && r.getAs[Long]("bw") <= 5)
    assert(tight >= perFile.length / 2,
      s"z layout not clustered in both dims: ${perFile.map(r =>
        (r.getAs[Long]("aw"), r.getAs[Long]("bw"))).mkString(",")}")
  }

  test("scd2Merge versions changed keys, inserts new ones, and leaves the rest alone") {
    import spark.implicits._
    def hist(rows: (Long, String, Long, Option[Long], Boolean)*) =
      rows.toDF("k", "seg", "valid_from", "valid_to", "is_current")
        .withColumn("valid_to", col("valid_to").cast("long"))
    // key 1: has prior closed history + an open version; key 2: open only
    val h0 = hist(
      (1L, "OLD", 100L, Some(200L), false),
      (1L, "A", 200L, None, true),
      (2L, "B", 150L, None, true))
    val updates = Seq((1L, "A2"), (3L, "C")).toDF("k", "seg")
    val h1 = Sinks.scd2Merge(h0, updates, "k", Seq("seg"), effTs = 300L)

    val rows = h1.orderBy("k", "valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(rows === Seq(
      (1L, "OLD", 100L, Some(200L), false), // prior history untouched
      (1L, "A", 200L, Some(300L), false),   // superseded version closed
      (1L, "A2", 300L, None, true),         // new version opened
      (2L, "B", 150L, None, true),          // unchanged key passes through
      (3L, "C", 300L, None, true)))         // brand-new key inserted
    // exactly one open version per key, always
    assert(h1.filter(col("is_current")).groupBy("k").count()
      .filter(col("count") =!= 1).count() === 0)

    // idempotent on replay of the SAME batch: identical attribute values
    // produce no new versions
    val h2 = Sinks.scd2Merge(h1, updates, "k", Seq("seg"), effTs = 400L)
    assert(h2.orderBy("k", "valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq === rows)
  }

  test("mergeDays overwrites only the touched day and is idempotent on replay") {
    val out  = tmp()
    val base = Tables.events(spark, sfDir).select("event_id", "user_id", "value", "ts")
    Sinks.mergeDays(base, "ts", out)
    val before      = spark.read.parquet(out)
    val days        = before.select("date").distinct().as[java.sql.Date].collect().sorted
    assert(days.length > 1, "need several days to prove day scoping")
    val target      = days.head
    val beforeCount = before.count() // materialize BEFORE the overwrite
    val otherBefore = before.filter(col("date") =!= target)
      .agg(sum(col("event_id"))).head().getLong(0)
    // merge a full replacement of ONE day with doubled values
    val updates = base.filter(to_date(col("ts")) === target)
      .withColumn("value", col("value") * 2)
    Sinks.mergeDays(updates, "ts", out)
    def snap() = {
      val df = spark.read.parquet(out)
      (df.count(),
        df.filter(col("date") =!= target).agg(sum(col("event_id"))).head().getLong(0),
        df.filter(col("date") === target)
          .agg(sum(round(col("value") * 100).cast("long"))).head().getLong(0))
    }
    val first = snap()
    assert(first._1 === beforeCount, "row count must be preserved")
    assert(first._2 === otherBefore, "untouched days must not change")
    // replay the identical merge: contents must be bit-identical
    Sinks.mergeDays(updates, "ts", out)
    assert(snap() === first, "replayed merge changed partition contents")
  }

  test("csv and json sources round-trip the relational schema") {
    val out  = tmp()
    val src  = Tables.nation(spark, sfDir)
    src.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
    src.write.mode("overwrite").json(s"$out/json")
    val csvBack = spark.read.option("header", "true")
      .schema(src.schema).csv(s"$out/csv")
    val jsonBack = spark.read.schema(src.schema).json(s"$out/json")
    assert(csvBack.except(src).count() === 0 && src.except(csvBack).count() === 0)
    assert(jsonBack.except(src).count() === 0 && src.except(jsonBack).count() === 0)
  }

  test("orc source round-trips with predicate pushdown reaching the scan") {
    val out = tmp()
    val src = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    src.write.mode("overwrite").orc(s"$out/orc")
    val back = spark.read.orc(s"$out/orc")
    assert(back.except(src).count() === 0 && src.except(back).count() === 0)
    // columnar-format parity with parquet: filters must push into the scan
    val plan = back.filter(col("o_custkey") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)"),
      s"ORC pushdown missing:\n${plan.take(900)}")
  }

  test("streaming foreachBatch sink lands micro-batches in date partitions") {
    val out  = tmp()
    val ckpt = tmp()
    val ms   = MemoryStream[Event](spark)
    val events = Tables.events(spark, sfDir).as[Event].collect().toSeq
    val (a, b) = events.splitAt(events.size / 2)
    ms.addData(a)
    val q = Sinks.streamToPartitionedParquetExactlyOnce(ms.toDF(), "ts", out, ckpt)
    q.processAllAvailable()
    ms.addData(b)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === events.size.toLong)
    assert(back.select("date").distinct().count() > 1)
  }

  test("exactly-once sink: kill-and-replay of the last micro-batch is a no-op or converges") {
    val out    = tmp()
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value", "ts")
    val b0 = events.filter(col("event_id") % 2 === 0)
    val b1 = events.filter(col("event_id") % 2 === 1)
    Sinks.commitBatch(b0, 0L, "ts", out)
    Sinks.commitBatch(b1, 1L, "ts", out)
    def files() = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("date="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}")).sorted.toSeq
    def rows() = spark.read.parquet(out)
      .select("event_id", "batch_id").as[(Long, Long)].collect().sorted.toSeq
    val wantFiles = files()
    val wantRows  = rows()
    assert(wantRows.map(_._1) === events.select("event_id").as[Long].collect().sorted.toSeq)

    // replay of a FULLY committed batch (manifest present): byte-level no-op
    Sinks.commitBatch(b1, 1L, "ts", out)
    assert(files() === wantFiles, "committed replay touched files")

    // crash AFTER publishing but BEFORE the manifest rename (the classic
    // double-append window): simulate by deleting only the manifest — the
    // replay must remove the orphaned b1- files and re-publish exactly once
    val manifests = new java.io.File(out, "_manifests")
    // local FS adds .crc shadows; only the batch-* markers are the protocol
    assert(manifests.listFiles().map(_.getName).filter(_.startsWith("batch-"))
      .sorted.toSeq === Seq("batch-" + "0" * 20, "batch-" + "0" * 19 + "1"))
    assert(new java.io.File(manifests, "batch-" + "0" * 19 + "1").delete())
    Sinks.commitBatch(b1, 1L, "ts", out)
    assert(rows() === wantRows, "replay after lost manifest duplicated or lost rows")

    // crash MID-publish: some b1- files landed, manifest absent — replay
    // must clean the partial set and converge to identical contents
    assert(new java.io.File(manifests, "batch-" + "0" * 19 + "1").delete())
    val someB1 = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("date="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("b1-"))).head
    assert(someB1.delete())
    Sinks.commitBatch(b1, 1L, "ts", out)
    assert(rows() === wantRows, "replay after partial publish diverged")
  }

  test("readAsOf time-travels to any committed batch and never sees uncommitted partials") {
    val out    = tmp()
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value", "ts")
    val b0 = events.filter(col("event_id") % 3 === 0)
    val b1 = events.filter(col("event_id") % 3 === 1)
    val b2 = events.filter(col("event_id") % 3 === 2)
    Sinks.commitBatch(b0, 0L, "ts", out)
    Sinks.commitBatch(b1, 1L, "ts", out)
    Sinks.commitBatch(b2, 2L, "ts", out)
    def idsAsOf(b: Long) = Sinks.readAsOf(spark, out, b)
      .select("event_id").as[Long].collect().sorted.toSeq
    def want(dfs: org.apache.spark.sql.DataFrame*) =
      dfs.flatMap(_.select("event_id").as[Long].collect()).sorted
    assert(idsAsOf(0L) === want(b0))
    assert(idsAsOf(1L) === want(b0, b1))
    assert(idsAsOf(2L) === want(b0, b1, b2))
    // an as-of beyond the log's head is simply the latest snapshot
    assert(idsAsOf(Long.MaxValue) === want(b0, b1, b2))

    // crashed publish of batch 3: data files landed, manifest never did —
    // the snapshot must come from the commit log, not the file listing
    Sinks.commitBatch(b0.limit(50), 3L, "ts", out)
    val manifest3 = new java.io.File(new java.io.File(out, "_manifests"),
      "batch-" + "0" * 19 + "3")
    assert(manifest3.delete())
    assert(idsAsOf(Long.MaxValue) === want(b0, b1, b2),
      "uncommitted partial files leaked into the snapshot")
    // the log head moving (batch 3 commits after all) restores visibility
    Sinks.commitBatch(b0.limit(50), 3L, "ts", out)
    assert(idsAsOf(2L) === want(b0, b1, b2),
      "a later commit changed a past snapshot")
  }

  test("readAsOf stays bounded at 10^4 committed batches: watermark pushdown + hole anti-join") {
    val out    = tmp()
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value", "ts")
    Sinks.commitBatch(events.filter(col("event_id") % 2 === 0), 0L, "ts", out)
    Sinks.commitBatch(events.filter(col("event_id") % 2 === 1), 9999L, "ts", out)
    // crashed batch 5000 BELOW the watermark: data files landed, manifest
    // never did — must be excluded by the hole anti-join, not an IN-list
    Sinks.commitBatch(events.limit(37), 5000L, "ts", out)
    val manifests = new java.io.File(out, "_manifests")
    assert(new java.io.File(manifests, f"batch-${5000L}%020d").delete())
    // synthetic commit log: the other ~10^4 manifests are empty markers,
    // exactly the state a long-running stream accumulates
    (1L until 9999L).foreach { id =>
      if (id != 5000L)
        assert(new java.io.File(manifests, f"batch-$id%020d").createNewFile())
    }
    val snap = Sinks.readAsOf(spark, out, Long.MaxValue)
    assert(snap.select("event_id").distinct().count() === events.count(),
      "hole partials leaked into the snapshot or committed rows went missing")
    // the plan must stay O(1) in the commit count: one pushed-down
    // watermark comparison (parquet file pruning intact) + one broadcast
    // anti-join over the single hole — never a 10^4-literal IN expression
    val optimized = snap.queryExecution.optimizedPlan.toString
    assert(optimized.length < 5000,
      s"plan grew with the commit count (${optimized.length} chars)")
    val physical = snap.queryExecution.executedPlan.toString
    assert(physical.contains("LessThanOrEqual(batch_id,9999)"),
      "watermark predicate did not push down to the parquet scan")
  }

  test("a leftover .tmp- manifest marker is not a commit, for the sink and the fold state") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.Streams.FoldState
    // the crash window between marker create and rename: `.tmp-<id>` is
    // in `_manifests`, `batch-<id>` never landed
    def crashAt(dir: String, id: Long): Unit = {
      val manifests = new java.io.File(dir, "_manifests")
      new java.io.File(manifests, f"batch-$id%020d").delete()
      assert(new java.io.File(manifests, s".tmp-$id").createNewFile())
    }
    def noTmp(dir: String) =
      !new java.io.File(dir, "_manifests").list().exists(_.startsWith(".tmp-"))

    // the sink: batch 1's files are published but its marker is a .tmp-
    val out    = tmp()
    val events = Tables.events(spark, sfDir).select("event_id", "user_id", "value", "ts")
    val b0 = events.filter(col("event_id") % 2 === 0)
    val b1 = events.filter(col("event_id") % 2 === 1)
    Sinks.commitBatch(b0, 0L, "ts", out)
    Sinks.commitBatch(b1, 1L, "ts", out)
    crashAt(out, 1L)
    def idsAsOf(b: Long) = Sinks.readAsOf(spark, out, b)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(idsAsOf(Long.MaxValue) === b0.select("event_id").as[Long].collect().sorted.toSeq,
      "a .tmp- marker counted as a committed batch")
    Sinks.commitBatch(b1, 1L, "ts", out)
    assert(idsAsOf(Long.MaxValue) === events.select("event_id").as[Long].collect().sorted.toSeq)
    assert(noTmp(out))

    // the fold state: state 1 was renamed into place, its marker is a .tmp-
    val dir = tmp()
    def frame(v: Long) = Seq(v).toDF("v")
    def read(st: Path) = spark.read.parquet(new Path(st, "x").toString).as[Long].head()
    assert(FoldState.commit(spark, dir, 0L) { st =>
      frame(1L).write.parquet(new Path(st, "x").toString) })
    frame(9L).write.parquet(new Path(new Path(dir, f"state-${1L}%020d"), "x").toString)
    crashAt(dir, 1L)
    val (id0, st0) = FoldState.latest(spark, dir).get
    assert(id0 === 0L && read(st0) === 1L, "a .tmp- marker counted as a committed state")
    assert(FoldState.commit(spark, dir, 1L) { st =>
      frame(2L).write.parquet(new Path(st, "x").toString) },
      "re-committing the crashed id must land")
    val (id1, st1) = FoldState.latest(spark, dir).get
    assert(id1 === 1L && read(st1) === 2L)
    assert(noTmp(dir))
  }

  test("exactly-once streaming sink lands batches once with one manifest per batch") {
    val out  = tmp()
    val ckpt = tmp()
    val ms   = MemoryStream[Event](spark)
    val events = Tables.events(spark, sfDir).as[Event].collect().toSeq
    val (a, b) = events.splitAt(events.size / 2)
    ms.addData(a)
    val q = Sinks.streamToPartitionedParquetExactlyOnce(ms.toDF(), "ts", out, ckpt)
    q.processAllAvailable()
    ms.addData(b)
    q.processAllAvailable()
    q.stop()
    // _manifests and .staging are hidden from the parquet reader
    val back = spark.read.parquet(out)
    assert(back.count() === events.size.toLong)
    assert(back.select("event_id").distinct().count() === events.size.toLong)
    val manifests = new java.io.File(out, "_manifests").listFiles().map(_.getName)
    assert(manifests.count(_.startsWith("batch-")) === 2, manifests.mkString(","))
  }

  /** Low-cardinality columns of every encoding case over three days: Parquet
    * keeps a dictionary for each of them unless it is turned off.
    */
  private def encodingCases() = spark.range(3000).select(
    (col("id") % 5).cast("int").as("k"),
    concat(lit("s"), (col("id") % 4).cast("string")).as("tag"),
    ((col("id") % 7) * 0.5).as("x"),
    struct(((col("id") % 3) * 1.25).as("sx"), ((col("id") % 6) * 2.5).as("sy")).as("geom"),
    timestamp_seconds(lit(1704067200L) + (col("id") % 3) * 86400 + (col("id") % 4) * 3600)
      .as("ts"))

  /** Whether each chunk of each column path has a dictionary page, over
    * every parquet file under `dir`, read from the footers.
    */
  private def dictionaryPages(dir: String): Map[String, Seq[Boolean]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty, s"no parquet files under $dir")
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage)
      finally r.close()
    }.groupMap(_._1)(_._2)
  }

  /** Rows and the sum of an all-column row hash: order-free, overflow-free. */
  private def digest(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
    df.agg(count(lit(1)), sum(pmod(xxhash64(cols.map(col): _*), lit(1L << 31)))).head()

  private def assertPlainFloatsAndTimestamps(dir: String): Unit = {
    val pages = dictionaryPages(dir)
    for (p <- Seq("x", "ts", "geom.sx", "geom.sy"))
      assert(pages(p).nonEmpty && !pages(p).exists(identity), s"$p has a dictionary page")
    for (p <- Seq("k", "tag"))
      assert(pages(p).nonEmpty && pages(p).forall(identity), s"$p lost its dictionary")
  }

  test("mergeDays writes floats and timestamps without a dictionary, the rest with one") {
    val out  = tmp()
    val rows = encodingCases()
    Sinks.mergeDays(rows, "ts", out)
    assertPlainFloatsAndTimestamps(out)
    assert(digest(spark.read.parquet(out), rows.columns.toSeq) === digest(rows, rows.columns.toSeq))
  }

  test("commitBatch writes floats and timestamps without a dictionary, the rest with one") {
    val out  = tmp()
    val rows = encodingCases()
    Sinks.commitBatch(rows, 0L, "ts", out)
    assertPlainFloatsAndTimestamps(out)
    assert(digest(spark.read.parquet(out), rows.columns.toSeq) === digest(rows, rows.columns.toSeq))
  }
}
