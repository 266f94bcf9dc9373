package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up probe: replicates `events` N× with shifted ids (unique keys,
  * same distribution) and times the flagship pipeline + representative
  * heavy operators at each multiple. Linear wall-time growth = the plan has
  * no super-linear stage (the 100 TB posture check, SURVEY §7.6).
  *
  *   sbt "runMain graft.ScaleProbe /root/testdata/sf0.1 1 4 10"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 4, 10)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(n: Int): DataFrame = {
      val ev = Tables.events(spark, sfDir)
      (0 until n).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000L)))
        .reduce(_.union(_))
    }

    // warmup
    SparkEntry.entry(spark).count()

    for (m <- mults) {
      val ev = replicate(m)
      // optional focus filter: SPARK_GRAFT_PROBE_ONLY=lbl1,lbl2 runs just
      // those probes (substring match) — long x50 passes can be resumed
      // probe-by-probe instead of rerunning the whole suite
      val only: String => Boolean = sys.env.get("SPARK_GRAFT_PROBE_ONLY") match {
        case Some(ls) => l => ls.split(",").exists(l.contains)
        case None     => _ => true
      }
      def timed(label: String)(f: => Long): Unit = if (only(label)) {
        val t0 = System.nanoTime()
        val n  = f
        println(f"[scale] x$m%-3d $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($n rows)")
      }
      // flagship geometry pipeline over the synthesized segments at m×
      timed("flagship_pipeline") {
        graft.ops.PostingLines.mergedFrom(graft.ops.Segments.fromEvents(ev)).count()
      }
      timed("grouped_agg") {
        ev.groupBy(to_date(col("ts")).as("d"))
          .agg(count(lit(1)), sum(round(col("value") * 100).cast("long"))).count()
      }
      def sessionize(df: DataFrame): Long = {
        val us = unix_micros(col("ts").cast("timestamp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(us, col("event_id"))
        df.select(col("user_id"), us.as("us"),
          sum(when(us - lag(us, 1).over(w) > 1800000000L || lag(us, 1).over(w).isNull, 1)
            .otherwise(0)).over(w.rowsBetween(Long.MinValue, 0)).as("sess"))
          .groupBy("user_id", "sess").count().count()
      }
      // replicate() shifts user_id per replica, so key cardinality grows
      // with data — per-key windows keep their parallelism (the assumption
      // SCALING.md documents for real corpora)
      timed("window_sessionize")(sessionize(ev))
      // the adversarial posture check: SAME data volume but key cardinality
      // pinned at the base ~15 users — window parallelism is capped at the
      // key count no matter the cluster size (gaps-and-islands is inherently
      // per-key sequential; there is no salting rewrite that preserves
      // lag() across salt boundaries)
      timed("window_sessionize_fixedkeys") {
        sessionize(ev.withColumn("user_id", pmod(col("user_id"), lit(15L))))
      }
      // interval join, BOTH layouts, on fixed-key data (user_id pinned to
      // the base ~15 users — the adversarial case): the plain equi-join
      // evaluates every same-user pair, Θ(rows²/keys) — run at x1 only —
      // while the banded (user, 5-min band) join touches only adjacent
      // bands, Θ(rows × band-occupancy), and stays linear at any m
      def intervalCount(banded: Boolean, df: DataFrame): Long = {
        val W = 300000000L
        val base = df.select(col("event_id"),
          pmod(col("user_id"), lit(15L)).as("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        val l = base.select(col("event_id").as("l_id"), col("user_id"),
          col("us").as("l_us"), floor(col("us") / W).as("band"))
        val r = base.select(col("event_id").as("r_id"), col("user_id"),
          col("us").as("r_us"), floor(col("us") / W).as("band"))
        val inRange = col("r_us") >= col("l_us") - W && col("r_us") < col("l_us")
        val hits =
          if (banded)
            l.join(r, Seq("user_id", "band")).filter(inRange)
              .union(l.join(r.withColumn("band", col("band") + 1),
                Seq("user_id", "band")).filter(inRange))
          else
            l.drop("band").join(r.drop("band"), Seq("user_id")).filter(inRange)
        hits.count()
      }
      if (m == 1) timed("interval_plain_fixedkeys")(intervalCount(banded = false, ev))
      timed("interval_banded_fixedkeys")(intervalCount(banded = true, ev))
      // decontamination on an m×-replicated corpus (fresh doc_ids → fresh
      // hash-split membership per replica): gram generation is narrow, the
      // eval side stays broadcast-sized (~10% of docs), so wall time must
      // track corpus size linearly
      timed("decontaminate") {
        val docs = Tables.documents(spark, sfDir)
        val dN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
          .reduce(_.union(_))
        graft.ops.TextOps.decontaminateFrom(dN).count()
      }
      // spatial grid join on m× disjoint 20°-shifted tiles (constant point
      // density — the geometry analog of unique-key replication): candidate
      // volume is Θ(points × cell density), so wall time must stay linear.
      // (Replicating WITHOUT the shift would grow density ∝ m and output
      // pairs ∝ m² — an output-size property, not a plan property.)
      timed("spatial_grid_join_tiled") {
        val seg = graft.ops.Segments.df(spark, sfDir)
          .select(col("segmentid"), col("endlon"), col("endlat"))
        val segN = (0 until m).map(i => seg.select(
          (col("segmentid") + lit(i.toLong * 1000000000L)).as("segmentid"),
          (col("endlon") + lit(i * 20.0)).as("endlon"), col("endlat")))
          .reduce(_.union(_))
        graft.ops.Spatial.neighborCounts(segN).count()
      }
      // incremental dedup-on-ingest: a FIXED 500-doc batch against an
      // index over an m×-grown corpus (replicas carry a per-replica salt
      // token so cluster count genuinely grows m× — unsalted replicas
      // would collapse into the same clusters and make the probe trivial).
      // The index build is the amortized cost (timed separately, grows
      // with the corpus); the per-batch match must track batch × bucket
      // density, NOT corpus² — contrast with dedup_full_recompute at x1.
      locally {
        val docs = Tables.documents(spark, sfDir)
        val corpusN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
          .reduce(_.union(_))
        val batch = docs.withColumn("doc_id", col("doc_id") + lit(990000000L))
        val index = graft.ops.Dedup.clusterFrameOf(corpusN).cache()
        timed("dedup_index_build")(index.count())
        timed("dedup_incremental_batch") {
          graft.ops.Dedup.incrementalNearDup(index, batch).count()
        }
        index.unpersist()
        if (m == 1) timed("dedup_full_recompute") {
          // what ingest WITHOUT the index costs: cluster + band-join the
          // ENTIRE corpus+batch against itself per arriving batch
          val all = corpusN.union(batch)
          val idxAll = graft.ops.Dedup.clusterFrameOf(all)
          graft.ops.Dedup.incrementalNearDup(idxAll, all).count()
        }
      }
      // CC loop on an m×-replicated cluster graph (disjoint replicas, ids
      // shifted): isolates the iterative loop's scaling from the MinHash
      // pipeline. Rounds must stay flat (disjoint copies of the same
      // components); wall time must grow ~linearly.
      timed("cc_loop_replicated") {
        val off = 1000000000L
        val cl = graft.ops.Dedup.clusterFrame(spark, sfDir).select(col("cid"), col("ms"))
        val qp = graft.ops.Dedup.qualifyingClusterPairs(spark, sfDir)
          .select(col("cid"), col("cid2"))
        val clN = (0 until m).map(i => cl.select(
          (col("cid") + lit(off * i)).as("cid"),
          transform(col("ms"), x => x + lit(off * i)).as("ms"))).reduce(_.union(_))
        val qpN = (0 until m).map(i => qp.select(
          (col("cid") + lit(off * i)).as("cid"),
          (col("cid2") + lit(off * i)).as("cid2"))).reduce(_.union(_))
        val (res, rounds) = graft.ops.Corpus.componentsOf(spark, clN, qpN)
        val n = res.count()
        println(s"[scale] x$m   cc_loop rounds=$rounds")
        n
      }
      // duplicated-span detection on an m×-replicated corpus (ids shifted,
      // text UNsalted: window content repeats across replicas, so each
      // window's occurrence count grows ∝ m — the realistic boilerplate
      // regime). Both shuffles are keyed (win / doc_id) and the per-window
      // count is a partitioned window function, not a pair enumeration, so
      // wall time must stay ~linear even as n_occ grows.
      timed("dup_spans_replicated") {
        val docs = Tables.documents(spark, sfDir)
        val dN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
          .reduce(_.union(_))
        graft.ops.Spans.dupSpansFrom(dN).count()
      }
      // bigram-LM scoring on an m×-replicated corpus with a per-replica
      // salt token appended (vocab and bigram-model cardinality genuinely
      // grow with m): the corpus is touched by the per-doc gram aggregate
      // and one gram-keyed model join; both scale with rows, the model
      // frame with distinct grams — wall time must stay ~linear.
      timed("bigram_nll_replicated") {
        val docs = Tables.documents(spark, sfDir)
        val dN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
          .reduce(_.union(_))
        graft.ops.LM.bigramNllFrom(dN).count()
      }
      // PageRank loop on m× disjoint replicas of the near-dup pair graph
      // (ids shifted — same components, m× the vertices): isolates the
      // iterative join+aggregate loop, the cc_loop analog. Wall time must
      // stay ~linear; the rank frame is the only state.
      timed("pagerank_replicated") {
        val off = 1000000000L
        val p = graft.ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
        val pN = (0 until m).map(i => p.select(
          (col("d1") + lit(off * i)).as("d1"),
          (col("d2") + lit(off * i)).as("d2"))).reduce(_.union(_))
        graft.ops.Graph.pageRank(pN).count()
      }
      // SemDeDup kernel scale shape: within-cluster pairwise work is
      // Θ(Σ|cell|²), so the OPERATIONAL control is cluster granularity.
      // Grown corpus + cluster count grown with it (|cell| ≈ 25 pinned —
      // how a production quantizer is sized) must stay ~linear; the same
      // corpus in a FIXED cluster count grows |cell| ∝ m → Θ(m²) pair
      // work — the semantic analog of interval_plain vs interval_banded,
      // so the quadratic variant runs only at small m.
      def semVecs(n: Int, clusters: Int): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          (col("id") % clusters).as("label"),
          transform(sequence(lit(0), lit(63)), i =>
            (sin(col("id") % clusters * lit(37) + i * lit(13)) +
             sin(col("id") * lit(101) + i * lit(7)) * lit(0.15)).cast("float"))
            .as("embedding"))
      timed("semdedup_scaledcells") {
        graft.ops.Similarity.semDedup(semVecs(m * 10000, m * 400), "label")
          .filter(!col("kept")).count()
      }
      if (m <= 50) timed("semdedup_fixedcells") {
        graft.ops.Similarity.semDedup(semVecs(m * 10000, 400), "label")
          .filter(!col("kept")).count()
      }
      // CMS cell build at m× tokens: the aggregate's output is the FIXED
      // 4×256 matrix whatever the vocabulary or corpus — the shuffle
      // carries O(partitions × 1024) counters, so wall time must track
      // the scan, not the token count × vocabulary
      timed("cms_cells_replicated") {
        val docs = Tables.documents(spark, sfDir)
        val docsN = (0 until m).map(_ => docs).reduce(_.union(_))
        val h = graft.functions.exprs.poly_hash(col("tok"))
        docsN.select(explode(split(col("text"), " ")).as("tok"))
          .select(h.as("h"))
          .select(explode(array((0 until 4).map(j =>
            struct(lit(j).as("j"),
              ((col("h") * (2 * j + 1) + lit(101L * j + 17)) % 1000000007L % 256)
                .cast("int").as("b"))): _*)).as("jb"))
          .groupBy(col("jb.j"), col("jb.b")).agg(count(lit(1))).count()
      }
      // banded SimHash pairs at m× docs. Replicating the real corpus
      // verbatim would grow every band bucket ∝ m (Θ(m²) candidates —
      // the semdedup_fixedcells analog), so the grown corpus is synthetic
      // text over a vocabulary scaling with m: bucket occupancy stays
      // pinned and candidate work tracks the data. The quadratic
      // replicated variant is intentionally NOT probed — pair output
      // itself is Θ(m²) there, the operator's own floor.
      timed("simhash_pairs_grown") {
        val vocab = m * 500
        val docs = spark.range(m * 5000L).select(col("id").as("doc_id"),
          expr(s"concat_ws(' ', transform(sequence(1, 40), " +
            s"j -> concat('w', pmod(id * 31 + j * 7, $vocab))))").as("text"))
        graft.ops.Dedup.simhashPairsFrom(docs).count()
      }
      // k-means rounds at m× vectors: assignment is a narrow map over
      // centroid literals and the update shuffles only O(partitions·k·64)
      // partials, so wall time must track the scan ~linearly; centroid
      // collects stay k×64 whatever m is.
      timed("kmeans_rounds_replicated") {
        val e = Tables(spark, sfDir, "embeddings")
        val eN = (0 until m).map(i => e.select(
          (col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
          col("embedding"))).reduce(_.union(_))
        val vm = eN.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG))")
            .as("vm"))
        graft.ops.Clustering.kmeansAssignFrom(vm).count()
      }
      // label propagation at m× the pair graph (shifted ids → m disjoint
      // copies): per round one keyed join + one groupBy, O(V) label state,
      // same hygiene as pagerank_replicated — must stay ~linear.
      timed("labelprop_replicated") {
        val off = 1000000000L
        val p = graft.ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
        val pN = (0 until m).map(i => p.select(
          (col("d1") + lit(off * i)).as("d1"),
          (col("d2") + lit(off * i)).as("d2"))).reduce(_.union(_))
        graft.ops.Graph.labelProp(pN).count()
      }
      // triangle counting at m× the pair graph (shifted ids → m disjoint
      // copies, triangle mass grows exactly ∝ m): degree-ordered
      // orientation keeps wedge work Σ outdeg², so disjoint replication
      // must stay ~linear — a super-linear step here means the
      // orientation (the whole point of the operator) regressed.
      timed("triangles_replicated") {
        val off = 1000000000L
        val p = graft.ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
        val pN = (0 until m).map(i => p.select(
          (col("d1") + lit(off * i)).as("d1"),
          (col("d2") + lit(off * i)).as("d2"))).reduce(_.union(_))
        graft.ops.Graph.triangleCounts(pN).count()
      }
      // Naive Bayes train+score on an m×-replicated corpus with a
      // per-replica salt token (class-feature model genuinely grows):
      // training is one groupBy to the (class, feature) frame and scoring
      // one feature-keyed join — wall time must track the corpus, with
      // the model frame growing only with distinct features.
      timed("nb_train_score_grown") {
        val docs = Tables.documents(spark, sfDir)
        val dN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
          .reduce(_.union(_))
        graft.ops.LM.naiveBayesLang(dN).count()
      }
      // sparse tf-idf cosine pairs on a GROWN corpus (synthetic text over
      // a vocabulary scaling with m — the simhash_pairs_grown regime):
      // per-feature posting lists stay pinned, so Σ df² candidate work
      // tracks the data ~linearly. Verbatim replication is intentionally
      // NOT probed: every replica pair is a near-dup, so the OUTPUT is
      // Θ(m²) — the operator's own floor, not a plan defect.
      timed("tfidf_pairs_grown") {
        // vocab scales with m so per-feature dfs stay pinned (~30, under
        // the N/4 cap); every 10th doc duplicates its predecessor, so the
        // TRUE pair count grows exactly ∝ m and candidate work Σ df²
        // tracks the data — wall time must stay ~linear
        val vocab = m * 2400
        val docs = spark.range(m * 2000L).select(col("id").as("doc_id"),
          expr(s"concat_ws(' ', transform(sequence(1, 40), j -> concat('w', " +
            s"pmod((CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END) * 7919 " +
            s"+ j * 101, $vocab))))").as("text"))
        graft.ops.Retrieval.tfidfCosinePairsFrom(docs).count()
      }
      // Bayardo prefix-filter candidate fraction on a grown HEAVY-TAILED
      // corpus (the RetrievalSpec sparse fixture: a small frequent pool
      // drives pair-sharing, a rare tail carries the norms; pools scale
      // with m so dfs stay pinned): candidates ÷ unfiltered distinct
      // feature-sharing pairs — the number that decides which all-pairs
      // plan wins (see the tfidfCosinePairsFrom measured-decision note)
      timed("tfidf_prefix_fraction_grown") {
        val vocab = m * 40000
        val pool = m * 5
        val docs = spark.range(m * 600L).select(col("id").as("doc_id"),
          expr(s"concat_ws(' ', transform(sequence(1, 40), j -> CASE WHEN j <= 8 " +
            s"THEN concat('c', j, '_', pmod(CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END, $pool)) " +
            s"ELSE concat('r', pmod((CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END) * 7919 " +
            s"+ j * 101, $vocab)) END))").as("text"))
        val w = graft.ops.Retrieval.tfidfPostings(docs)
          .localCheckpoint()
        val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nsq"))
        val cand = graft.ops.Retrieval.tfidfPrefixCandidates(w, nrm).count()
        val slim = w.select("f", "doc_id")
        val full = slim.as("a").hint("SHUFFLE_HASH").join(slim.as("b"),
            col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
        println(f"[probe] tfidf_prefix cand=$cand full=$full " +
          f"frac=${cand.toDouble / full}%.4f")
        cand
      }
      // HLL registers at m× events: the aggregate's output is ≤ 64
      // registers per group whatever the key cardinality — the shuffle
      // carries O(partitions × groups × 64) maxima, so wall time must
      // track the scan (the cms_cells analog for distinct counting).
      timed("hll_registers_replicated") {
        graft.ops.Sketches.hllRegistersFrom(ev).count()
      }
      // JL projection at m× embeddings: a pure narrow map over literal
      // sign arrays — must track the scan exactly (no shuffle at all
      // before the presentation sort, which this count drops).
      timed("rand_proj_replicated") {
        val e = Tables(spark, sfDir, "embeddings")
        val eN = (0 until m).map(i => e.select(
          (col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
          col("embedding"))).reduce(_.union(_))
        val vm = eN.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG))")
            .as("vm"))
        val cols = (0 until graft.ops.Sketches.ProjDim).map { j =>
          val lits = (0 until graft.ops.Sketches.EmbDim)
            .map(i => s"${graft.ops.Sketches.projSign(i, j)}L").mkString(", ")
          expr(s"aggregate(zip_with(vm, array($lits), (x, c) -> x * c), " +
            "0L, (a, b) -> a + b)").as(s"p$j")
        }
        vm.select(col("vec_id") +: cols: _*).count()
      }
      // k-core peel at a grown near-dup graph: m disjoint copies of the
      // corpus pair graph (ids shifted) — vertices, edges, and the core
      // all grow ∝ m while K is scale-free (avg-degree-derived), so the
      // fixed-round peel must track the data linearly; a super-linear
      // round (lineage re-execution, global state) shows immediately.
      timed("kcore_replicated") {
        val p0 = graft.ops.Dedup.minhashPairs(spark, sfDir).select("d1", "d2")
          .localCheckpoint()
        val pN = (0 until m).map(i => p0.select(
          (col("d1") + lit(i.toLong * 10000000L)).as("d1"),
          (col("d2") + lit(i.toLong * 10000000L)).as("d2")))
          .reduce(_.union(_))
        graft.ops.Graph.kCore(pN).count()
      }
      // content-defined chunking at m× documents (every 10th doc
      // duplicates its predecessor as in tfidf_pairs_grown): the position
      // scan is Θ(chars), the ownership pass one Θ(chunks) shuffle — both
      // linear; dup mass grows ∝ m by construction
      timed("cdc_chunks_grown") {
        val docs = spark.range(m * 2000L).select(col("id").as("doc_id"),
          expr(s"concat_ws(' ', transform(sequence(1, 40), j -> concat('w', " +
            s"pmod((CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END) * 7919 " +
            s"+ j * 101, ${m * 2400}))))").as("text"))
        graft.ops.Dedup.contentChunks(docs).count()
      }
      // MIH hamming search over a synthetic corpus whose CLUSTER COUNT
      // scales with m (40·m clusters of constant ~50-member size): the
      // same-cluster pair density — and with it the true Hamming-pair
      // output — stays ∝ m, so the probe measures index scaling. Design
      // notes from two rejected drafts: replicating the 10-label
      // embeddings table makes the OUTPUT itself quadratic in m (39M
      // pairs at x10 — ANY replication of a fixed cluster structure
      // does); and sin-sequence cluster signatures alias in sign space
      // (phase step 37 ≈ 5.9·2π/9 puts clusters 9 apart within a few
      // Hamming bits → 31% of ALL pairs qualified). Cluster base signs
      // therefore come from murmur3 hash(cluster, dim) — iid across
      // clusters, so cross-cluster distance concentrates at ~32 of 64 —
      // and the ±1.05·sin member noise flips ~10% of bits, spreading
      // within-cluster pairs across the tau boundary. Probe volume is
      // Θ(n·masks·chunks); brute force would grow ∝ m².
      timed("mih_grown") {
        val emb = spark.range(m * 2000L).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, 63), k -> CAST(" +
            s"(pmod(hash(pmod(id, ${m * 40}), k), 2) * 2 - 1) + " +
            s"sin(id * 101 + k * 7) * 1.05 AS FLOAT))").as("embedding"))
        graft.ops.Similarity.hammingMih(emb).count()
      }
      // 128-bit SimHash pair search over a grown text corpus (every 10th
      // doc duplicates its predecessor, vocab ∝ m — the cdc_chunks_grown
      // constructor): true near-dup pairs grow ∝ m while the probe volume
      // stays Θ(docs × 8 chunks × 17 masks); brute force would be ∝ m²
      def grownDocs = spark.range(m * 2000L).select(col("id").as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, 40), j -> concat('w', " +
          s"pmod((CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END) * 7919 " +
          s"+ j * 101, ${m * 2400}))))").as("text"))
      timed("simhash128_grown") {
        graft.ops.Dedup.simhash128PairsFrom(grownDocs).count()
      }
      // truss peel over the fingerprint graph of the same grown corpus:
      // dup families (and so edges, triangles, surviving truss) grow ∝ m;
      // each of the KtIters rounds is one wedge + one closing join + one
      // support groupBy on the current edge set. The minhash DOC graph was
      // measured and rejected as the truss substrate (279M triangles at
      // sf0.1 → 16 s/round inherent; see the q_ktruss plan decision)
      timed("ktruss_grown") {
        graft.ops.Graph.kTruss(
          graft.ops.Dedup.simhash128PairsFrom(grownDocs).select("d1", "d2"))
          .count()
      }
      // perceptual dHash pair search at m× images: the percImage
      // generator is pure in the id, so retouched-pair mass grows ∝ m by
      // construction (every 5th id); the probe walks the REAL path —
      // PNG encode, real decode, 9×8 resample, 4-chunk MIH at radius 2 —
      // so this measures codec + index together. Candidate volume is
      // Θ(n · 4 chunks · 137 masks); brute force would be ∝ m².
      timed("dhash_mih_grown") {
        import spark.implicits._
        val media = spark.range(m * 5000L).as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id => graft.ops.Multimodal.RealMedia(
            id, "png", graft.ops.Multimodal.percPngBytes(id)))
        }
        graft.ops.Similarity.mihPairs(
            graft.ops.Multimodal.dhashCodes(media).toDF()
              .withColumnRenamed("media_id", "vec_id"),
            Seq("dlo", "dhi"), graft.ops.Multimodal.DhashTau)
          .count()
      }
      // the Norouzi chunk-width lever, measured: SAME corpus, SAME exact
      // output (QueriesSpec proves set equality), but 3 chunks of 21/22
      // bits — bucket keys 2^21+ so occupancy stays < 1 at 250k codes
      // where the 16-bit geometry's Θ(n²·p) term owns the wall
      timed("dhash_mih_grown_wide") {
        import spark.implicits._
        val media = spark.range(m * 5000L).as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id => graft.ops.Multimodal.RealMedia(
            id, "png", graft.ops.Multimodal.percPngBytes(id)))
        }
        graft.ops.Similarity.mihPairsChunked(
            graft.ops.Multimodal.dhashCodes(media).toDF()
              .withColumnRenamed("media_id", "vec_id"),
            Seq("dlo", "dhi"), graft.ops.Multimodal.DhashTau, 3)
          .count()
      }
      // the INGEST shape: FIXED 500-code probe batch against a frozen
      // index of m×5000 iid codes (hash-mixed words — the corpus-design
      // rule: never replicate structure). Half the batch is planted
      // 2-bit retouches of indexed codes, half is a fresh hash stream.
      // Per-trigger cost should grow only with the index's chunk-key
      // build (∝ m, one pass), never index² — the claim q_perc_ingest's
      // Scaladoc makes, measured here. The sized geometry widens chunks
      // as the index grows (mihChunksFor inside percIngestScoreCodes).
      timed("perc_ingest_grown") {
        def mix(c: String, k1: Long, k2: Long) = expr(
          s"(($c * $k1 + $k2) % 4294967296 + 4294967296) % 4294967296")
        val index = spark.range(m * 5000L).select(col("id").as("media_id"),
          mix("id", 2654435761L, 97L).as("dlo"),
          mix("id", 40503L * 65537L, 31L).as("dhi"))
        val dups = spark.range(250L).select((col("id") * 17L).as("src"))
          .join(index, col("src") === col("media_id"))
          .select((col("media_id") + 10000000L).as("media_id"),
            col("dlo").bitwiseXOR(lit(0x00000009L)).as("dlo"), col("dhi"))
        val fresh = spark.range(250L).select(
          (col("id") + 20000000L).as("media_id"),
          mix("id", 1099511627791L, 7L).as("dlo"),
          mix("id", 2862933555777941757L % 4294967296L, 13L).as("dhi"))
        graft.ops.Multimodal.percIngestScoreCodes(
          index, dups.unionByName(fresh), m * 5000L).count()
      }
      // the profiler's one-pass multi-distinct aggregate at m× rows:
      // count/min/max fold map-side; the exact distincts share one
      // Expand (rows × columns inside the scan stage) — growth should be
      // ~linear in input, the q_profile_columns 100 TB claim
      timed("profile_grown") {
        graft.ops.Profile.profileTable(ev, "events_grown").count()
      }
      // round-11 probes
      // unigram application is vocabulary-shaped: the Viterbi fold runs
      // once per DISTINCT word (grownDocs vocabulary grows ∝ m; the
      // trained score map is fixture model state — unknown pieces take
      // the penalty path, same DP cost). Wall should track the distinct
      // word count, not the corpus token count.
      timed("unigram_apply_grown") {
        val sc = graft.ops.Tokenize.unigramTrain(spark, sfDir)
        grownDocs.select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))
          .select(size(graft.ops.Tokenize.unigramPiecesCol(col("word"), sc))
            .as("n"))
          .agg(sum("n")).count()
      }
      // the composed retrieval pipeline's ONLY corpus-proportional stage
      // is candidate generation (one tf aggregate + TakeOrdered CandK);
      // replicated real documents keep the query terms present. Wall
      // should grow ∝ corpus while the output stays CandK rows.
      timed("retrieval_candidates_grown") {
        val docs = Tables.documents(spark, sfDir)
        val docsN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        graft.ops.Retrieval.bm25TopKFrom(docsN, graft.ops.Retrieval.CandK)
          .count()
      }
      // round-12 probes
      // the BATCH serving pipeline end to end at m× corpus: the probe
      // batch stays RbProbes (doc_id % 100 under the GlobalLimit cap),
      // so wall should track the shared tf build (∝ corpus) while the
      // probe-count-independent tail stays fixed — the plan-lock claim
      // measured. Replicated real documents keep probe text realistic.
      timed("retrieval_batch_grown") {
        val docs = Tables.documents(spark, sfDir)
        val docsN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        graft.ops.Retrieval.retrievalBatchFrom(docsN,
          Tables.embeddings(spark, sfDir)).count()
      }
      // index maintenance vs rebuild at m× corpus: retireFrom is
      // member-list surgery on the PERSISTED index (narrow (cid, doc)
      // shuffle; no re-tokenize/re-hash/re-sign), so its wall should sit
      // well under clusterFrameOf on the surviving corpus — the
      // q_dedup_retire 100 TB claim, measured. The index build itself is
      // paid once outside both timers (cache + count).
      locally {
        val docs = Tables.documents(spark, sfDir)
        val docsN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        val index = graft.ops.Dedup.clusterFrameOf(docsN).cache()
        index.count() // materialize outside the timers
        val retired = docsN.filter(col("doc_id") % 7 === 3).select("doc_id")
        timed("dedup_retire_grown") {
          graft.ops.Dedup.retireFrom(index, retired).count()
        }
        timed("dedup_rebuild_grown") {
          graft.ops.Dedup.clusterFrameOf(
            docsN.filter(col("doc_id") % 7 =!= 3)).count()
        }
        index.unpersist()
      }
      // hot-terms fold under a growing VOCABULARY (round-15, the newly
      // declared ⊘q_hot_terms kernel): replicas suffix every token with
      // a replica-unique tag, so the exact per-(window, token) counting
      // state grows ∝ m while the Misra–Gries-compacted fold state must
      // stay ≤ windows × k whatever the vocabulary — the BoilerFold
      // exact-vs-sketched state measurement on the streaming hot-terms
      // surface. The timed wall is the three-trigger fold only; it must
      // track the per-trigger scan, not the vocabulary.
      locally {
        val docsM = (0 until m).map(i =>
          Tables.documents(spark, sfDir).select(
            (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"_r$i"))), " ").as("text")))
          .reduce(_.unionByName(_))
          .withColumn("ingest_ts",
            timestamp_seconds((col("doc_id") % 180) * 60))
        val k = 64
        var out: DataFrame = null
        var sketchRows = 0L
        if (only("hotterms_fold_grown")) {
          timed("hotterms_fold_grown") {
            val fold = graft.streaming.Streams.hotTermsFold(
              k, f => out = f.localCheckpoint())
            (0 until 3).foreach(i =>
              fold.step(docsM.filter(col("doc_id") % 3 === i), i.toLong))
            sketchRows = out.count()
            sketchRows
          }
          val exactRows = docsM
            .select(col("ingest_ts"), explode(split(col("text"), " ")).as("tok"))
            .select(window(col("ingest_ts"), "1 hour")("start").as("w"), col("tok"))
            .distinct().count()
          println(f"[scale] hotterms state x$m%-3d sketched $sketchRows%6d rows " +
            f"(<= windows x k=$k) vs exact vocab-keyed $exactRows%8d")
        }
      }
      // round-12 late probes
      // boilerplate strip at m× corpus. Chunking is positional (ChunkLen
      // tokens), so VERBATIM replication would push EVERY chunk's df to m
      // ≥ BoilMinDf and the probe would measure a fully-saturated strip
      // (all documents empty — a degenerate reconstruction). A plain
      // i-token prefix shift wraps modulo ChunkLen (replicas i and i+8
      // realign, re-saturating the probe at m ≥ 9), so instead a
      // replica-unique marker is interleaved every ChunkLen−1 ORIGINAL
      // tokens: after insertion every ChunkLen-token chunk carries
      // exactly one marker, so no chunk matches ACROSS replicas at ANY
      // m, while genuine cross-doc template chunks WITHIN each replica
      // (markers identical there) keep their df and the template set's
      // total mass still grows ∝ corpus — the realistic direction.
      timed("boilerplate_strip_grown") {
        val cl1 = graft.ops.Curation.ChunkLen - 1
        val docs = Tables.documents(spark, sfDir)
        val docsN = (0 until m).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
          .withColumn("text", expr(
            s"""concat_ws(' ', flatten(transform(
               |sequence(0, CAST(ceil(size(split(text, ' ')) / $cl1.0)
               |  AS INT) - 1),
               |g -> concat(slice(split(text, ' '), g * $cl1 + 1, $cl1),
               |  array('zqz$i')))))""".stripMargin.replace('\n', ' '))))
          .reduce(_.union(_))
        graft.ops.Curation.boilerplateStripFrom(docsN).count()
      }
      // round-14 probe: exact vs MG-sketched decay fold at m ingest
      // batches (each a marker-interleaved replica — distinct chunks
      // grow ∝ corpus). The exact fold's state is distinct-chunk-sized;
      // the sketched fold stays ≤ k rows whatever the stream length —
      // the bounded-state claim, measured.
      locally {
        val cl1 = graft.ops.Curation.ChunkLen - 1
        val base = Tables.documents(spark, sfDir)
        val index = graft.ops.Curation.boilerChunksOf(base).cache()
        index.count()
        def marked(i: Int): DataFrame = base
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
          .withColumn("text", expr(
            s"""concat_ws(' ', flatten(transform(
               |sequence(0, CAST(ceil(size(split(text, ' ')) / $cl1.0)
               |  AS INT) - 1),
               |g -> concat(slice(split(text, ' '), g * $cl1 + 1, $cl1),
               |  array('zqz$i')))))""".stripMargin.replace('\n', ' ')))
        timed("boiler_exact_fold") {
          val f = new graft.streaming.Streams.BoilerFold(index, _ => ())
          (0 until m).foreach(i => f.step(marked(i), i.toLong))
          f.seen.map(_.count()).getOrElse(0L)
        }
        timed("boiler_sketch_fold") {
          val f = new graft.streaming.Streams.BoilerFold(index, _ => (),
            None, Some(1024))
          (0 until m).foreach(i => f.step(marked(i), i.toLong))
          f.seen.map(_.count()).getOrElse(0L)
        }
        index.unpersist()
      }
      // histogram-quantile sketch at m× events: the two corpus passes
      // (min/max agg + bucketing agg) are both narrow scans with
      // map-side partials — wall ∝ corpus, output fixed at ≤HqBuckets
      // rows; the quantile tail runs on the bounded frame and is not
      // probed (sub-millisecond at any scale).
      timed("hist_quantiles_grown") {
        val cents = ev.select(round(col("value") * 100).cast("long")
          .as("cents"))
        val r = cents.agg(min("cents"), max("cents")).head()
        graft.ops.Sketches.centsHist(cents,
          r.getLong(0), r.getLong(1) - r.getLong(0) + 1).count()
      }
      // PCA model state at m× embeddings: the mean pass and the Dim²
      // covariance fan-out are the only corpus-proportional stages (the
      // power rounds are driver arithmetic on the collected 64×64
      // matrix) — wall ∝ vectors, collect fixed at 4096 cells.
      timed("pca_model_grown") {
        val emb = Tables.embeddings(spark, sfDir)
        val embN = (0 until m).map(i => emb
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        val vm = embN.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG))")
            .as("vm"))
        val (mu, cov) = graft.ops.Clustering.pcaModel(vm)
        mu.length.toLong * cov.length
      }
      // round-13 probe: IVFADC append vs retrain at m× corpus. Append is
      // one narrow map over the NEW batch only (both quantizers are plan
      // literals — no Lloyd, no re-encode of indexed rows); retrain
      // re-runs coarse k-means + PQ codebook training and re-encodes
      // every vector. Append wall should track the batch, retrain the
      // corpus — the q_dedup_retire asymmetry on the vector plane.
      locally {
        val emb = Tables.embeddings(spark, sfDir)
        val embN = (0 until m).map(i => emb
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        val newBatch = embN.filter(col("vec_id") % 7 === 3)
        val old      = embN.filter(col("vec_id") % 7 =!= 3)
        val cents = graft.ops.Similarity.kmeansCentroidsFrom(old)
        val cbs   = graft.ops.Similarity.pqCodebooks(old)
        val index = graft.ops.Similarity.ivfPqIndex(old, cents, cbs).cache()
        index.count() // the persisted index is paid once, outside both timers
        timed("ivfpq_append_grown") {
          graft.ops.Similarity.ivfPqAppend(index, newBatch, cents, cbs).count()
        }
        timed("ivfpq_retrain_grown") {
          val c2 = graft.ops.Similarity.kmeansCentroidsFrom(embN)
          val b2 = graft.ops.Similarity.pqCodebooks(embN)
          graft.ops.Similarity.ivfPqIndex(embN, c2, b2).count()
        }
        index.unpersist()
      }
      // round-14 probe: IVF cell SPLIT vs retrain at m× corpus. A split
      // Lloyds only the hottest cell's members (two children) and
      // re-assigns just those rows; the retrain re-runs coarse k-means
      // on the grown corpus and re-assigns EVERY row. Split wall should
      // track the hot cell, retrain the corpus — the imbalance-repair
      // asymmetry ivfSplit exists for.
      locally {
        val emb = Tables.embeddings(spark, sfDir)
        val embN = (0 until m).map(i => emb
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        val cents = graft.ops.Similarity.kmeansCentroidsFrom(embN)
        val index = graft.ops.Similarity.ivfAssign(embN, cents).cache()
        index.count() // the persisted index is paid once, outside both timers
        val hc = graft.ops.Similarity.hottestCell(index)
        timed("ivf_split_grown") {
          // a cell-partitioned deployment rewrites ONLY the hot cell's
          // rows on split; materialize exactly those (the untouched
          // branch keeps its files — retire/append storage story)
          val (split, _) = graft.ops.Similarity.ivfSplit(index, cents, hc)
          split.filter(col("cell") === hc || col("cell") === cents.length)
            .count()
        }
        timed("ivf_retrain_grown") {
          val c2 = graft.ops.Similarity.kmeansCentroidsFrom(embN)
          graft.ops.Similarity.ivfAssign(embN, c2).count()
        }
        index.unpersist()
      }
      // round-14 probe: elastic scale-out of a rendezvous-sharded index
      // at m× corpus. The rebalance delta is ~1/(N+1) of the rows (the
      // arrivals-only HRW theorem) and only THOSE are written; the naive
      // alternative rewrites the whole re-sharded index. Wall and bytes
      // should track delta vs corpus.
      locally {
        val emb = Tables.embeddings(spark, sfDir)
        val embN = (0 until m).map(i => emb
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
          .reduce(_.union(_))
        val cents = graft.ops.Similarity.kmeansCentroidsFrom(embN)
        val index = graft.ops.Similarity.ivfAssign(embN, cents).cache()
        index.count()
        val out = java.nio.file.Files
          .createTempDirectory("rebal").toString
        // untimed warmup write: parquet committer + codegen init is paid
        // here, not by whichever timed block happens to run first
        index.limit(64).write.mode("overwrite").parquet(s"$out/warm")
        // production layout is PARTITIONED BY shard: the delta writes
        // one new partition directory (the arrivals — no other shard's
        // files are touched); the naive full reshard rewrites the whole
        // partitioned layout. Both scan the corpus once for the argmax —
        // the asymmetry is write volume and partition fan-out.
        timed("shard_rebalance_delta") {
          graft.ops.Shards.shardScaleOutArrivals(index, "vec_id", 8)
            .write.mode("overwrite").parquet(s"$out/shard=8")
          spark.read.parquet(s"$out/shard=8").count()
        }
        timed("shard_reshard_full") {
          index.withColumn("shard",
            graft.ops.Shards.hrwShard(col("vec_id"), 9))
            .write.mode("overwrite").partitionBy("shard")
            .parquet(s"$out/full")
          spark.read.parquet(s"$out/full").count()
        }
        index.unpersist()
      }
    }

    // hot-cell skew probe (the port scenario), independent of m: HALF of
    // all points inside ONE 0.05° grid cell — real AIS density. The hot
    // cell's Θ(n_hot²) candidate work is inherent (the output pairs live
    // there); the scale question is whether it lands on one straggler task
    // or is split across the cluster. Run the identical join with AQE skew
    // split off vs on. Local emulation notes: broadcast is disabled (at
    // 100 TB the point table is far past any broadcast threshold, so the
    // cell join is a shuffle join — locally 50k rows would broadcast and
    // hide the skew), and the skew thresholds are scaled to the local data
    // volume (the hot partition here is ~320 KB; production's 256 MB default
    // is the same ratio at cluster scale).
    {
      // 8k hot points on a 90×90 lattice inside one cell → 64M candidate
      // evals and ~30M output pairs (radius 0.02 covers ~half the 0.05
      // cell, so Θ(n_hot²) output is the scenario's own floor, which is
      // why n_hot is not scaled with m)
      val nHot = 8000
      val hot = spark.range(nHot).select(col("id").as("segmentid"),
        (lit(50.0005) + (col("id") % 90) * 0.00055).as("endlon"),
        (lit(10.0005) + floor(col("id") / 90) * 0.00055).as("endlat"))
      val cold = spark.range(nHot).select((col("id") + nHot).as("segmentid"),
        ((col("id") % 500) * 0.3 + 0.001).as("endlon"),
        (floor(col("id") / 500) * 0.3 + 0.001).as("endlat"))
      val seg = hot.unionAll(cold)
      def skewWall(on: Boolean): Unit = {
        Seq(
          "spark.sql.autoBroadcastJoinThreshold"                        -> "-1",
          "spark.sql.adaptive.skewJoin.enabled"                         -> on.toString,
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor"           -> "2",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes"             -> "16KB"
        ).foreach { case (k, v) => spark.conf.set(k, v) }
        val t0 = System.nanoTime()
        val n = graft.ops.Spatial.neighborCounts(seg).count()
        println(f"[scale] hotcell skewJoin=$on%-5s spatial_grid_join ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($n rows)")
        Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes")
          .foreach(spark.conf.unset)
      }
      skewWall(on = false)
      skewWall(on = true)
    }

    // layout probes (independent of m): rows actually materialized from
    // parquet under pushed-down predicates, z-order vs single-column sort.
    // recordsRead counts rows surviving row-group pruning — the metric
    // that turns into scan cost at 100 TB, where a layout that reads 16×
    // fewer rows is 16× less I/O before the first operator runs.
    {
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
      val total = li.count()
      val zDir = "/tmp/graft_probe_zorder"
      val aDir = "/tmp/graft_probe_asorted"
      graft.ops.Sinks.zorderWrite(li, "l_partkey", "l_suppkey", zDir, 256)
      li.repartitionByRange(256, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(aDir)
      val listener = new QueryMetricsListener
      spark.sparkContext.addSparkListener(listener)
      def rowsRead(label: String, dir: String,
          pred: org.apache.spark.sql.Column): Unit = {
        val hits = Metrics.observe(spark, label)(
          spark.read.parquet(dir).filter(pred).count())
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
        val read = listener.snapshot(label).inputRecords.sum()
        println(f"[scale] layout $label%-28s read $read%8d / $total rows for $hits%6d hits")
      }
      // both-dims tile, one-dim-only slices — the three shapes a real
      // workload mixes; the single-sort layout can only serve the first dim
      val both  = col("l_partkey").between(5000, 5500) &&
        col("l_suppkey").between(250, 275)
      val aOnly = col("l_partkey").between(5000, 5500)
      val bOnly = col("l_suppkey").between(250, 275)
      rowsRead("z_both", zDir, both);   rowsRead("asort_both", aDir, both)
      rowsRead("z_aonly", zDir, aOnly); rowsRead("asort_aonly", aDir, aOnly)
      rowsRead("z_bonly", zDir, bOnly); rowsRead("asort_bonly", aDir, bOnly)
      spark.sparkContext.removeSparkListener(listener)
    }

    // BM25 postings-index probe (independent of m): the two claims behind
    // q_bm25_pruned. (a) Index lookup beats per-query re-derivation: with
    // the postings written term-bucket-partitioned, a query's read prunes
    // to its terms' partitions — recordsRead must drop to the matched
    // postings, not the full index. (b) WAND upper-bound pruning: the
    // expensive scoring join runs over the candidate fraction only.
    {
      import graft.ops.Retrieval
      val docs  = Tables.documents(spark, sfDir)
      val pDir  = "/tmp/graft_probe_postings"
      val nBkts = 64
      Retrieval.postingsFrom(docs)
        .withColumn("bkt", pmod(xxhash64(col("tok")), lit(nBkts.toLong)))
        .write.mode("overwrite").partitionBy("bkt").parquet(pDir)
      val listener = new QueryMetricsListener
      spark.sparkContext.addSparkListener(listener)
      def readRows(label: String)(f: => Long): Long = {
        val hits = Metrics.observe(spark, label)(f)
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
        val read = listener.snapshot(label).inputRecords.sum()
        println(f"[scale] bm25 $label%-16s read $read%9d rows for $hits%7d hits")
        read
      }
      val idx = spark.read.parquet(pDir)
      val full = readRows("index_full")(idx.count())
      // the query's buckets, computed with the same engine hash (3 tiny jobs)
      val bkts = Retrieval.QueryTerms.map(t => spark.range(1)
        .select(pmod(xxhash64(lit(t)), lit(nBkts.toLong))).head.getLong(0)).distinct
      val pruned = readRows("index_lookup")(
        idx.filter(col("bkt").isin(bkts: _*) &&
          col("tok").isInCollection(Retrieval.QueryTerms)).count())
      println(f"[scale] bm25 partition pruning: $pruned%d / $full%d index rows read " +
        f"(${100.0 * pruned / full}%.1f%% — ${bkts.size} of $nBkts buckets)")
      // WAND candidate fraction: scored docs under pruning vs matched docs
      val matched = Retrieval.postingsFrom(docs)
        .filter(col("tok").isInCollection(Retrieval.QueryTerms))
        .select("doc_id").distinct().count()
      val (topPruned, cand) = Retrieval.bm25PrunedWithCandidates(
        Retrieval.postingsFrom(docs), Retrieval.docLengths(docs))
      val nCand = cand.count()
      val topPlain = SparkEntry.queries("q_bm25_topk")(spark, sfDir)
      val agree = topPruned.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sameElements(topPlain.collect().map(r => (r.getLong(0), r.getDouble(1))))
      println(f"[scale] bm25 WAND: scored $nCand%d of $matched%d matched docs " +
        f"(${100.0 * nCand / math.max(matched, 1)}%.1f%%), " +
        f"top-k equals unpruned: $agree%b")
      spark.sparkContext.removeSparkListener(listener)
    }

    // IVF serving-layout probe (independent of m): the q_bm25_pruned
    // partition-pruning story on the VECTOR plane. The persisted index
    // written PARTITIONED BY cell is the serving layout; a probe's
    // candidate scan filters to its probeCells and must read only those
    // cells' partitions (~IvfProbes/IvfCells of the rows), not the full
    // index — at 100 TB this is the difference between scanning the
    // probed learned partitions and re-reading the corpus per probe.
    {
      import graft.ops.Similarity
      val emb   = Tables.embeddings(spark, sfDir)
      val cents = Similarity.kmeansCentroidsFrom(emb)
      val iDir  = "/tmp/graft_probe_ivfcells"
      Similarity.ivfAssign(emb, cents)
        .write.mode("overwrite").partitionBy("cell").parquet(iDir)
      val listener = new QueryMetricsListener
      spark.sparkContext.addSparkListener(listener)
      def readRows(label: String)(f: => Long): Long = {
        val hits = Metrics.observe(spark, label)(f)
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
        val read = listener.snapshot(label).inputRecords.sum()
        println(f"[scale] ivf $label%-17s read $read%9d rows for $hits%7d hits")
        read
      }
      val idx  = spark.read.parquet(iDir)
      val full = readRows("cells_full")(idx.count())
      // one probe's cells, computed with the same centroid literals
      val cells = emb.orderBy("vec_id").limit(1)
        .select(explode(Similarity.probeCells(col("embedding"), cents))
          .as("cell"))
        .collect().map(_.getInt(0)).toSeq
      val pruned = readRows("cells_probed")(
        idx.filter(col("cell").isin(cells: _*)).count())
      println(f"[scale] ivf cell pruning: $pruned%d / $full%d index rows read " +
        f"(${100.0 * pruned / math.max(full, 1)}%.1f%% — ${cells.size} of " +
        f"${cents.length} cells)")
      // two-level layout: partitionBy(shard, cell) — one fleet member
      // serving the probe reads its OWN shard's probed cells only, so
      // pruning multiplies across the axes (≈ 1/N × probes/cells); the
      // fleet as a whole still reads exactly the cell fraction.
      val nSh  = 8
      val tDir = "/tmp/graft_probe_ivfshardcells"
      graft.ops.Similarity.ivfAssign(emb, cents)
        .withColumn("shard", graft.ops.Shards.hrwShard(col("vec_id"), nSh))
        .write.mode("overwrite").partitionBy("shard", "cell").parquet(tDir)
      val idx2 = spark.read.parquet(tDir)
      val full2 = readRows("twolevel_full")(idx2.count())
      val member = readRows("twolevel_member")(
        idx2.filter(col("shard") === 3 && col("cell").isin(cells: _*))
          .count())
      println(f"[scale] ivf shard×cell pruning: $member%d / $full2%d rows read " +
        f"(${100.0 * member / math.max(full2, 1)}%.1f%% — one member's " +
        f"${cells.size} of ${cents.length} cells at 1/$nSh of the fleet)")
      spark.sparkContext.removeSparkListener(listener)
    }

    // Bloom runtime-filter probe (independent of m): shuffle volume of the
    // selective fact⋈dim semi join with broadcast DISABLED (at 100 TB a
    // fact-fact join shuffles; locally the dim would broadcast and hide
    // the effect). The sketch prunes fact rows BEFORE their exchange, so
    // shuffle-write bytes must drop roughly with the dim subset's
    // selectivity while the result stays identical (the oracle's claim).
    {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val listener = new QueryMetricsListener
      spark.sparkContext.addSparkListener(listener)
      import org.apache.spark.sql.functions.broadcast
      val fact = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_linenumber", "l_suppkey")
      val keys = Tables.supplier(spark, sfDir)
        .filter(col("s_acctbal") >= 9000).select(col("s_suppkey"))
      def semi(label: String, withBloom: Boolean): Unit = {
        val pruned = if (!withBloom) fact else {
          import spark.implicits._
          val sketch = keys.as[Long]
            .select(graft.functions.Bloom.agg(1 << 17, 5)).toDF("bloom")
          fact.crossJoin(broadcast(sketch))
            .filter(graft.functions.Bloom.mightContain(
              col("bloom"), col("l_suppkey"), 1 << 17, 5))
        }
        // inner join on the unique dim key, not left_semi — see
        // q_bloom_semi_join: PushDownLeftSemiAntiJoin would re-order the
        // semi below the bloom filter and un-prune the exchange
        val n = Metrics.observe(spark, label)(
          pruned.join(keys, col("l_suppkey") === col("s_suppkey"))
            .count())
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
        val sw = listener.snapshot(label).shuffleWriteBytes.sum()
        println(f"[scale] bloom $label%-14s shuffle-write ${sw / 1024}%8d KiB  ($n rows)")
      }
      semi("semi_plain", withBloom = false)
      semi("semi_bloom", withBloom = true)
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }

    // Wide-dimension PCA probe (independent of m): real embedding columns
    // are 768–4096-dim, not the fixture's 64 — does the covariance
    // kernel's posture survive width? The per-row fan-out is dim²
    // (0.26M terms/row at 512), so the claims to MEASURE are (a) the
    // WIRE stays O(partitions · dim²) — map-side partial aggregation
    // collapses the N·dim² generated rows before the exchange; (b) the
    // driver matrix stays bounded (dim² longs: 2 MB at 512); (c) wall
    // scales ~quadratically in width (inherent to covariance — which is
    // exactly why the SHIPPED route for ≫512-dim inputs is the
    // q_rand_proj JL pre-step measured above: project to ProjDim FIRST,
    // then pay dim² only on the narrow frame).
    {
      val listener = new QueryMetricsListener
      spark.sparkContext.addSparkListener(listener)
      val nVec = 5000L
      def vmWide(dim: Int): DataFrame =
        spark.range(nVec).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), " +
            "i -> CAST((id * 37 + i * 101) % 2000 - 1000 AS LONG))").as("vm"))
      for (dim <- Seq(64, 512)) {
        val label = s"pca_cov_dim$dim"
        val t0 = System.nanoTime()
        val (mu, cov) = Metrics.observe(spark, label)(
          graft.ops.Clustering.pcaModelOf(vmWide(dim), dim))
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
        val st = listener.snapshot(label)
        val driverBytes = cov.length.toLong * cov.length * 8
        println(f"[scale] pca_wide dim=$dim%-4d wall $wall%6.2f s  " +
          f"shuffle-write ${st.shuffleWriteBytes.sum() / 1024}%8d KiB " +
          f"(naive N·dim² = ${nVec * dim * dim / 1000000}%d M terms)  " +
          f"driver matrix ${driverBytes / 1024}%d KiB  mu(${mu.length})")
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    spark.stop()
  }
}
