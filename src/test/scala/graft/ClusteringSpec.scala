package graft

import org.apache.spark.sql.functions._

/** The distributed k-means (q_kmeans_assign) against a from-scratch
  * sequential Lloyd in the same integer-micro arithmetic: identical
  * assignments prove the distributed rounds (bounded centroid collects +
  * one groupBy per round) walk the exact trajectory, independently of the
  * DuckDB oracle.
  */
class ClusteringSpec extends SparkSpec {

  private val K     = ops.Clustering.KmK
  private val Iters = ops.Clustering.KmIters

  test("distributed Lloyd equals the sequential integer-micro reference") {
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG))"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val dim = vecs.head._2.length

    def dist(v: Array[Long], c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < dim) { val d = v(i) - c(i); s += d * d; i += 1 }
      s
    }
    def assignOf(cents: Array[Array[Long]]): Array[(Long, Int, Long)] =
      vecs.map { case (id, v) =>
        var bc = 0; var bd = dist(v, cents(0))
        for (c <- 1 until K) {
          val d = dist(v, cents(c))
          if (d < bd) { bd = d; bc = c } // ties keep the lower cell
        }
        (id, bc, bd)
      }

    var cents = Array.tabulate(K)(c => vecs(c)._2.clone())
    for (_ <- 1 to Iters) {
      val asg = assignOf(cents)
      val next = Array.tabulate(K) { c =>
        val members = asg.collect { case (id, cell, _) if cell == c => id }
        if (members.isEmpty) cents(c)
        else {
          val n = members.length.toLong
          val s = new Array[Long](dim)
          members.foreach { id =>
            val v = vecs(id.toInt)._2
            var i = 0; while (i < dim) { s(i) += v(i); i += 1 }
          }
          Array.tabulate(dim)(i => s(i) / n) // trunc-div, same as engine
        }
      }
      cents = next
    }
    val want = assignOf(cents).toSet

    val got = SparkEntry.queries("q_kmeans_assign")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want, "distributed assignment diverged from sequential Lloyd")
    // basic shape: every vector assigned exactly once, cells in range
    assert(got.size === vecs.length)
    assert(got.forall { case (_, c, d) => c >= 0 && c < K && d >= 0 })
  }

  // sequential micro-snapped vectors, shared by the PCA tests
  private def snappedVecs: Array[Array[Long]] =
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG))"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Long](1).toArray)

  // from-scratch sequential PCA in the shipped integer arithmetic
  private def seqPca(vecs: Array[Array[Long]]):
      (Array[Long], Array[Array[Long]], Seq[Array[Long]]) = {
    val dim = ops.Clustering.Dim
    val n = vecs.length.toLong
    val mu = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val d = vecs.map(v => Array.tabulate(dim)(i => v(i) - mu(i)))
    val cov = Array.tabulate(dim, dim)((j, k) =>
      d.map(r => r(j) * r(k)).sum / ops.Clustering.PcCScale)
    def half(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    var v = Array.fill(dim)(ops.Clustering.PcVScale)
    val traj = Seq.newBuilder[Array[Long]]; traj += v.clone()
    for (_ <- 1 to ops.Clustering.PcIters) {
      val w = Array.tabulate(dim)(j =>
        (0 until dim).map(k => cov(j)(k) * v(k)).sum)
      val ma = w.map(math.abs).max
      v = w.map(x => half(x.toDouble * ops.Clustering.PcVScale.toDouble
        / ma.toDouble))
      traj += v.clone()
    }
    (mu, cov, traj.result())
  }

  test("PCA power trajectory equals the sequential integer reference") {
    val (_, _, traj) = seqPca(snappedVecs)
    val want = traj.zipWithIndex.flatMap { case (v, r) =>
      v.zipWithIndex.map { case (x, j) => (r, j + 1, x) } }.toSet
    val got = SparkEntry.queries("q_pca_power")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want, "distributed PCA diverged from the sequential reference")
  }

  test("PCA final direction dominates every coordinate axis (Rayleigh) and has converged") {
    val (_, cov, traj) = seqPca(snappedVecs)
    val dim = ops.Clustering.Dim
    // Rayleigh quotient in BigInt — v·Ĉv can exceed int64
    def rayleigh(v: Array[Long]): BigDecimal = {
      val num = (0 until dim).map(j => (0 until dim).map(k =>
        BigInt(v(j)) * BigInt(cov(j)(k)) * BigInt(v(k))).sum).sum
      val den = v.map(x => BigInt(x) * BigInt(x)).sum
      BigDecimal(num) / BigDecimal(den)
    }
    val rFinal = rayleigh(traj.last)
    for (j <- 0 until dim) {
      val axis = Array.tabulate(dim)(i => if (i == j) 1L else 0L)
      assert(rFinal >= rayleigh(axis),
        s"final direction loses to axis $j — not the dominant eigendirection")
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val num = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      BigDecimal(num).toDouble / na / nb
    }
    val c = cos(traj(ops.Clustering.PcIters - 1), traj.last)
    assert(c >= 0.995, s"power iteration not converged: cos(v_last-1, v_last) = $c")
  }

  // sequential deflation twin (BigInt, trunc division)
  private def seqDeflate(cov: Array[Array[Long]],
      v1: Array[Long]): Array[Array[Long]] = {
    val dim = ops.Clustering.Dim
    var r = BigInt(0)
    for (j <- 0 until dim; k <- 0 until dim)
      r += BigInt(v1(j)) * cov(j)(k) * v1(k)
    val s2 = { val s = v1.map(x => BigInt(x) * x).sum; s * s }
    Array.tabulate(dim, dim)((j, k) =>
      cov(j)(k) - ((r * v1(j) * v1(k)) / s2).toLong)
  }

  // power rounds over an explicit covariance (the seqPca inner loop)
  private def seqPower(cov: Array[Array[Long]]): Seq[Array[Long]] = {
    val dim = ops.Clustering.Dim
    def half(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    var v = Array.fill(dim)(ops.Clustering.PcVScale)
    val traj = Seq.newBuilder[Array[Long]]; traj += v.clone()
    for (_ <- 1 to ops.Clustering.PcIters) {
      val w = Array.tabulate(dim)(j =>
        (0 until dim).map(k => cov(j)(k) * v(k)).sum)
      val ma = w.map(math.abs).max
      v = w.map(x => half(x.toDouble * ops.Clustering.PcVScale.toDouble
        / ma.toDouble))
      traj += v.clone()
    }
    traj.result()
  }

  test("PCA projection emits the centered dots with both final directions, exactly") {
    val vecs = snappedVecs
    val (mu, cov, traj) = seqPca(vecs)
    val v1 = traj.last
    val v2 = seqPower(seqDeflate(cov, v1)).last
    val ids = Tables(spark, sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    def dots(vf: Array[Long]) = vecs.map(v =>
      (0 until ops.Clustering.Dim).map(i => (v(i) - mu(i)) * vf(i)).sum)
    val want = ids.lazyZip(dots(v1)).lazyZip(dots(v2))
      .map((a, b, c) => (a, b, c)).toSet
    val got = SparkEntry.queries("q_pca_project")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got === want, "projection diverged from the sequential reference")
  }

  test("deflated component: sequential equality, near-orthogonality, bounded Rayleigh") {
    val (_, cov, traj) = seqPca(snappedVecs)
    val v1 = traj.last
    val traj2 = seqPower(seqDeflate(cov, v1))
    val want = traj2.zipWithIndex.flatMap { case (v, r) =>
      v.zipWithIndex.map { case (x, j) => (r, j + 1, x) } }.toSet
    val got = SparkEntry.queries("q_pca_deflate")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want, "deflated trajectory diverged from the sequential reference")
    val v2 = traj2.last
    val dim = ops.Clustering.Dim
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val num = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      BigDecimal(num).toDouble /
        math.sqrt(a.map(x => x.toDouble * x).sum) /
        math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    assert(math.abs(cos(v1, v2)) <= 0.1,
      s"v2 not orthogonal to v1: cos = ${cos(v1, v2)}")
    def rayleigh(v: Array[Long]): BigDecimal = {
      val num = (0 until dim).map(j => (0 until dim).map(k =>
        BigInt(v(j)) * BigInt(cov(j)(k)) * BigInt(v(k))).sum).sum
      BigDecimal(num) / BigDecimal(v.map(x => BigInt(x) * BigInt(x)).sum)
    }
    // near-degenerate top pair on this fixture: v2's Rayleigh on Ĉ may
    // slightly exceed v1's, but never materially (a true second component
    // of a well-separated spectrum would sit strictly below)
    assert(rayleigh(v2) <= rayleigh(v1) * BigDecimal(1.1),
      "deflated direction's Rayleigh quotient exceeds the dominant one by >10%")
  }

  test("top-k PCA basis: k=4 components with non-increasing Rayleigh and pairwise near-orthogonality") {
    val (_, cov, _) = seqPca(snappedVecs)
    val dim = ops.Clustering.Dim
    val rows = SparkEntry.queries("q_pca_topk")(spark, sfDir).collect()
    assert(rows.length === ops.Clustering.PcK * dim)
    val basis = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getLong(2))
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val num = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      BigDecimal(num).toDouble /
        math.sqrt(a.map(x => x.toDouble * x).sum) /
        math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    def rayleigh(v: Array[Long]): BigDecimal = {
      val num = (0 until dim).map(j => (0 until dim).map(k =>
        BigInt(v(j)) * BigInt(cov(j)(k)) * BigInt(v(k))).sum).sum
      BigDecimal(num) / BigDecimal(v.map(x => BigInt(x) * BigInt(x)).sum)
    }
    for (i <- basis.indices; j <- (i + 1) until basis.length)
      assert(math.abs(cos(basis(i), basis(j))) <= 0.15,
        s"components ${i + 1},${j + 1} not orthogonal: ${cos(basis(i), basis(j))}")
    for (i <- 0 until basis.length - 1)
      assert(rayleigh(basis(i + 1)) <= rayleigh(basis(i)) * BigDecimal(1.1),
        s"Rayleigh ordering broken at component ${i + 2}: " +
          s"${rayleigh(basis(i + 1))} > ${rayleigh(basis(i))}")
  }

  test("block power iteration: k=8 basis pairwise near-orthogonal, Rayleigh ordered, dominant column converged") {
    val (_, cov, traj1) = seqPca(snappedVecs)
    val dim = ops.Clustering.Dim
    val rows = SparkEntry.queries("q_pca_block")(spark, sfDir).collect()
    val k = ops.Clustering.PcBlockK
    assert(rows.length === (ops.Clustering.PcBlockIters + 1) * k * dim)
    val lastRound = rows.filter(_.getInt(0) === ops.Clustering.PcBlockIters)
    val basis = lastRound.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_.getInt(2)).map(_.getLong(3)) }
    assert(basis.length === k)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val num = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      BigDecimal(num).toDouble /
        math.sqrt(a.map(x => x.toDouble * x).sum) /
        math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    def rayleigh(v: Array[Long]): BigDecimal = {
      val num = (0 until dim).map(j => (0 until dim).map(p =>
        BigInt(v(j)) * BigInt(cov(j)(p)) * BigInt(v(p))).sum).sum
      BigDecimal(num) / BigDecimal(v.map(x => BigInt(x) * BigInt(x)).sum)
    }
    for (i <- basis.indices; j <- (i + 1) until basis.length)
      assert(math.abs(cos(basis(i), basis(j))) <= 0.15,
        s"block columns ${i + 1},${j + 1} not orthogonal: ${cos(basis(i), basis(j))}")
    // near-degenerate spectra can swap adjacent columns — same 10% slack
    // as the q_pca_topk gate
    for (i <- 0 until basis.length - 1)
      assert(rayleigh(basis(i + 1)) <= rayleigh(basis(i)) * BigDecimal(1.1),
        s"block Rayleigh ordering broken at column ${i + 2}: " +
          s"${rayleigh(basis(i + 1))} > ${rayleigh(basis(i))}")
    // near-degenerate leading spectrum (see the deflate test): individual
    // columns may mix WITHIN the dominant eigenspace, so the honest gates
    // are (a) the block SPAN captures the sequential chain's dominant
    // direction and (b) the leading column carries dominant-scale energy
    val ortho = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    basis.map(_.map(_.toDouble)).foreach { v0 =>
      var v = v0.clone()
      ortho.foreach { u =>
        val d = v.zip(u).map(t => t._1 * t._2).sum
        v = v.zipWithIndex.map { case (x, j) => x - d * u(j) }
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 1e-9) ortho += v.map(_ / n)
    }
    val v1d = traj1.last.map(_.toDouble)
    val n1 = math.sqrt(v1d.map(x => x * x).sum)
    val captured = math.sqrt(ortho.map { u =>
      val d = u.zip(v1d).map(t => t._1 * t._2).sum; d * d
    }.sum) / n1
    assert(captured >= 0.95,
      s"block span captures only $captured of the dominant eigendirection")
    assert(rayleigh(basis.head) >= rayleigh(traj1.last) * BigDecimal(0.9),
      s"leading block column's Rayleigh ${rayleigh(basis.head)} far below " +
        s"the dominant ${rayleigh(traj1.last)}")
  }

  test("drift alerts route into vector retirement: retire equals frozen-model rebuild of the survivors") {
    // the composed lifecycle path: q_drift_alerts' paged buckets mark
    // regions whose distribution shifted; the before-era rows sitting in
    // those buckets retire from the persisted IVF index (the embedding-
    // plane TTL), and the frozen-model retire theorem must carry
    // through the composition — retired index ≡ rebuild of the
    // survivors under the same frozen centroids, row-for-row
    val emb = Tables(spark, sfDir, "embeddings")
    val (mu, cov) = ops.Clustering.pcaModel(ops.Clustering.vmOf(emb))
    val v1 = ops.Clustering.pcaTrajectory(cov).last
    val beforeScores = emb.select(col("vec_id"),
      ops.Clustering.pcScoreCol(mu, v1).as("pc1")).localCheckpoint()
    val rep = ops.Clustering.embedDriftBatchReport(spark, sfDir)
    val alerts = ops.Clustering.embedDriftAlerts(rep).localCheckpoint()
    assert(alerts.count() > 0, "fixture must page")
    val g = beforeScores.agg(min("pc1"), max("pc1")).head()
    val (lo, width) = (g.getLong(0), g.getLong(1) - g.getLong(0) + 1)
    val tomb = ops.Clustering.driftRetireTombstones(
      beforeScores, alerts, lo, width).localCheckpoint()
    val nTomb = tomb.count()
    assert(nTomb > 0, "no before-era rows sit in paged buckets")
    assert(nTomb < emb.count(), "TTL retired the whole era — no selectivity")
    val cents = ops.Similarity.kmeansCentroidsFrom(emb)
    val index = ops.Similarity.ivfAssign(emb, cents)
    // retire = a keyed anti-join on vec_id, no re-quantization
    def retire(ix: org.apache.spark.sql.DataFrame) =
      ix.join(tomb.select("vec_id"), Seq("vec_id"), "left_anti")
    val retired = retire(index)
    val survivors = emb.join(tomb, Seq("vec_id"), "left_anti")
    val rebuilt = ops.Similarity.ivfAssign(survivors, cents)
    assert(retired.except(rebuilt).count() === 0 &&
      rebuilt.except(retired).count() === 0,
      "alert-routed retire diverged from the frozen-model rebuild")
    // the same TTL on the COMPOSED index: codes/norms are per-row
    // functions of (vector, frozen codebooks), so the alert-routed
    // retire must equal the frozen-model IVFADC rebuild too
    val cbs = ops.Similarity.pqCodebooks(emb)
    val retiredPq = retire(ops.Similarity.ivfPqIndex(emb, cents, cbs))
    val rebuiltPq = ops.Similarity.ivfPqIndex(survivors, cents, cbs)
    assert(retiredPq.except(rebuiltPq).count() === 0 &&
      rebuiltPq.except(retiredPq).count() === 0,
      "alert-routed IVFADC retire diverged from the frozen-model rebuild")
  }

  test("drift alerts route into the TEXT-plane retirements: retire equals rebuild on the cluster and chunk faces") {
    // the vector-plane TTL (previous test) composed with the OTHER two
    // persisted-index families: a paged embedding-plane signal marks
    // stale regions; the before-era rows' ids become doc tombstones
    // (vec_id ≡ doc_id — the embeddings table is the documents' vector
    // column), which route into the MinHash near-dup cluster index
    // (Dedup.retireFrom — member-list surgery, no re-hash) and the CDC
    // chunk index (a per-occurrence anti-join on doc_id). Each
    // face's retire ≡ rebuild-on-survivors theorem must carry through
    // the composed path, exactly as it did on the vector plane.
    val docs = Tables.documents(spark, sfDir)
    val (before, after, lo, width) =
      ops.Clustering.embedDriftBatchParts(spark, sfDir)
    val rep = ops.Clustering.embedDriftReport(
      ops.Clustering.pcScoreHist(before, lo, width),
      ops.Clustering.pcScoreHist(after, lo, width))
    val alerts = ops.Clustering.embedDriftAlerts(rep).localCheckpoint()
    assert(alerts.count() > 0, "fixture must page")
    val tomb = ops.Clustering.driftRetireTombstones(before, alerts, lo, width)
      .withColumnRenamed("vec_id", "doc_id").localCheckpoint()
    val nTomb = tomb.count()
    assert(nTomb > 0, "no before-era rows sit in paged buckets")
    assert(nTomb < docs.count(), "TTL retired the whole corpus — no selectivity")
    val survivors = docs.join(tomb, Seq("doc_id"), "left_anti")
    // MinHash near-dup cluster face: canonical compare (member lists
    // sorted, rows as a set — collect order is nondeterministic)
    def canon(cf: org.apache.spark.sql.DataFrame) = cf
      .select(col("cid"), sort_array(col("ms")).as("ms"),
        col("th"), col("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2),
        r.getSeq[Long](3)))
      .toSet
    val gotCluster = canon(
      ops.Dedup.retireFrom(ops.Dedup.clusterFrameOf(docs), tomb))
    val wantCluster = canon(ops.Dedup.clusterFrameOf(survivors))
    assert(gotCluster === wantCluster,
      "alert-routed cluster retire diverged from the rebuild on survivors")
    // CDC chunk face: row-exact
    val chunkIdx = ops.Dedup.chunkFrame(docs)
    val retiredChunks = chunkIdx.join(tomb.select("doc_id"), Seq("doc_id"),
      "left_anti")
    val rebuiltChunks = ops.Dedup.chunkFrame(survivors)
    assert(retiredChunks.except(rebuiltChunks).count() === 0 &&
      rebuiltChunks.except(retiredChunks).count() === 0,
      "alert-routed chunk retire diverged from the rebuild on survivors")
  }

  test("needsRebuild closes the loop: retrain + swap restores quantizer fit without serving regression") {
    // the full monitoring → action drill: a biased new source shifts
    // vectors along the dominant axis; the drift monitor (frozen model +
    // grid from the before era, report from the ACTUAL after vectors)
    // pages and EmbedDriftHealth.needsRebuild fires; the triggered
    // action — retrain the coarse quantizer on the grown corpus and swap
    // — must restore quantizer fit (quantScore strictly up on the grown
    // corpus) while serving does not regress (swap recall within 0.05 of
    // the stale index, typically above it)
    val emb = Tables(spark, sfDir, "embeddings")
    val (mu, cov) = ops.Clustering.pcaModel(ops.Clustering.vmOf(emb))
    val v1 = ops.Clustering.pcaTrajectory(cov).last
    val beforeScores = emb.select(col("vec_id"),
      ops.Clustering.pcScoreCol(mu, v1).as("pc1")).localCheckpoint()
    val g = beforeScores.agg(min("pc1"), max("pc1")).head()
    val (lo, width) = (g.getLong(0), g.getLong(1) - g.getLong(0) + 1)
    val beforeGrid = ops.Clustering.pcScoreHist(
      beforeScores, lo, width).localCheckpoint()
    // the biased source: every vector displaced along v1 (float space)
    val shift = typedlit(v1.map(x =>
      (4.0 * x / ops.Clustering.PcVScale).toFloat).toSeq)
    val after = emb.select((col("vec_id") + 100000L).as("vec_id"),
      zip_with(col("embedding"), shift, (x, d) => x + d).as("embedding"))
      .localCheckpoint()
    val rep = ops.Clustering.embedDriftReport(beforeGrid,
      ops.Clustering.pcScoreHist(
        after.select(ops.Clustering.pcScoreCol(mu, v1).as("pc1")),
        lo, width))
    assert(ops.Clustering.embedDriftHealth(rep).needsRebuild,
      "the displaced source did not page — fixture broken")
    // the stale index vs the retrain the page triggers
    val cents = ops.Similarity.kmeansCentroidsFrom(emb)
    val grown = emb.select("vec_id", "embedding").unionByName(after)
      .localCheckpoint()
    val staleFit = SimilarityReference.quantScore(grown, cents)
    val cents2 = ops.Similarity.kmeansCentroidsFrom(grown)
    val freshFit = SimilarityReference.quantScore(grown, cents2)
    assert(freshFit > staleFit,
      s"retrain did not improve quantizer fit: $staleFit -> $freshFit")
    val bf = ops.Similarity.cosineTopKFrom(grown)
    val rStale = recallOf(ops.Similarity.annIvfTopKIndexed(
      ops.Similarity.ivfAssign(grown, cents), cents), bf)
    val rSwap = recallOf(ops.Similarity.annIvfTopKIndexed(
      ops.Similarity.ivfAssign(grown, cents2), cents2), bf)
    assert(rSwap >= rStale - 0.05,
      s"swap regressed serving: stale $rStale -> swapped $rSwap")
  }

  private def recallOf(ann: org.apache.spark.sql.DataFrame,
      bf: org.apache.spark.sql.DataFrame): Double =
    ann.select("p_id", "c_id").join(bf.select("p_id", "c_id"),
      Seq("p_id", "c_id"), "left_semi").count().toDouble /
      bf.count().toDouble

  test("embed drift monitor: both statuses surface, overflow ids are honest, mass conserved") {
    val rows = SparkEntry.queries("q_embed_drift")(spark, sfDir).collect()
    val drifted   = rows.filter(_.getBoolean(5))
    val undrifted = rows.filterNot(_.getBoolean(5))
    assert(drifted.nonEmpty, "drift injection produced zero drifted buckets")
    assert(undrifted.nonEmpty, "every bucket drifted — the gate has no specificity")
    // the injected shift pushes mass past the frozen before-era grid: it
    // must land in honest overflow bucket ids (>= EdBuckets), never clamp
    val overflow = rows.filter(_.getLong(0) >= ops.Clustering.EdBuckets)
    assert(overflow.nonEmpty && overflow.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) > 0L && r.getBoolean(5)),
      "overflow brackets missing or carrying before-era mass")
    // the injection relocates rows, never adds/drops them
    assert(rows.map(_.getLong(1)).sum === rows.map(_.getLong(2)).sum,
      "era masses diverged — the monitor must conserve rows")
  }

  test("PCA power iteration fails loudly on a zero covariance (degenerate input)") {
    // All-equal vectors → zero covariance → zero matvec. The DuckDB
    // oracle's round(w*scale/0) would diverge (inf/NULL) from a silently
    // NaN→0 JVM path, so both engines must fail instead.
    val dim = ops.Clustering.Dim
    val zero = Array.fill(dim)(Array.fill(dim)(0L))
    val e = intercept[IllegalArgumentException] {
      ops.Clustering.pcaTrajectory(zero)
    }
    assert(e.getMessage.contains("degenerate"))
  }
}
