package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CountMin
import graft.functions.exprs._
import graft.{Q, Tables}

/** Distributed-sketch operators, and the one home of the HyperLogLog and
  * Count–Min rules every sketch query and fold shares: HyperLogLog
  * cardinality registers (Flajolet et al. 2007, "HyperLogLog: the
  * analysis of a near-optimal cardinality estimation algorithm", AofA)
  * built through the declarative twin — the register matrix is a pure
  * function of the key set under the deterministic PolyHash family, so
  * DuckDB rebuilds the IDENTICAL matrix and the sketch is fully
  * ORACLE-CHECKED cell-for-cell, as the Count–Min grid of q_cms_counts
  * (`TextOps.scala`, built on [[cmsBuckets]]) is.
  *
  * Each rule is written once, as a Column def and its SQL twin:
  *  - rank: [[rankCol]] / [[rankSql]], at the raw [[RankCap]] or the
  *    post-[[mix31]] [[MixRankCap]];
  *  - register build, (keys…, bucket) → max(rank) AS register:
  *    [[registers]] / [[registersSql]]; the event-type tiers with the '*'
  *    global tier: [[tiers]] / [[tiersSql]];
  *  - scaled estimator state, present and
  *    est_scaled = Σ 2^(57−r) + (M − present)·2^57 per group:
  *    [[scaledDenom]] / [[scaledDenomSql]];
  *  - Count–Min cells, the [[CountMin.bucket]] map of a PolyHash value:
  *    [[cmsBuckets]] / [[cmsBucketSql]].
  *
  * Reference anchor: the reference's per-day COUNT aggregation surface
  * (`/root/reference/sql_to_line.py:91` day batching) is the exact-count
  * plane; HLL is its bounded-state approximate twin for 100 TB-scale
  * distinct-count questions (distinct users/URLs per partition) where an
  * exact distinct would shuffle the full key set.
  *
  * Scale shape: ONE groupBy over (group, bucket) with map-side partial
  * MAX — the shuffle carries O(partitions × groups × m) registers, never
  * the keys themselves; registers merge by max, so the sketch is
  * embarrassingly re-aggregable across days/shards (the property
  * SketchesSpec asserts, alongside the estimate-accuracy gate).
  */
object Sketches {

  /** Register count m = 64 (6 bucket bits) and the sub-hash width: the
    * 30-bit PolyHash splits into bucket = h % 64 and a 24-bit remainder
    * v = h div 64, so ranks live in [1, 25] (25 ⟺ v = 0).
    */
  final val M        = 64
  final val SubBits  = 24
  final val RankCap  = SubBits + 1

  /** Histogram-quantile geometry (q_hist_quantiles): equi-width bucket
    * count and the reported percentiles. 256 buckets over the cents range
    * bound the quantile bracket at width/256 ≈ 0.4% of the value range.
    * (Defined before `queries`, which captures HqPcts at object init.)
    */
  final val HqBuckets = 256
  final val HqPcts    = Seq(1, 5, 25, 50, 75, 95, 99)

  /** Estimator constant α_m·m²·2⁵⁷ for the q_hll_intersect estimates:
    * computed ONCE here and embedded in the oracle SQL via its round-trip
    * decimal form (shortest-repr doubles re-parse to the identical bits
    * in both engines), so est = C / D is a single correctly-rounded IEEE
    * division on identical operands engine-to-engine.
    */
  final val HllEstC: Double =
    0.7213 / (1.0 + 1.079 / M) * (M.toDouble * M) * (1L << 57).toDouble

  /** Murmur-style 31-bit finalizer over the PolyHash (xor-shift, two odd
    * multiplies masked to 2³¹): PolyHash of SHORT decimal-string keys only
    * reaches ~31⁴·7, an arithmetic-progression-like orbit whose per-bucket
    * maxima are systematically tame — raw-regime HLL ranks need avalanche
    * uniformity the rolling hash alone doesn't give (measured: 2× under-
    * estimate un-mixed, ~8% after the mix). Every step stays < 2⁶³ on
    * non-negative operands, so Spark `%` and DuckDB `%` agree exactly.
    */
  private def mix31(h: Column): Column = {
    val a = h.bitwiseXOR(shiftright(h, 16))
    val b = (a * lit(2246822507L)) % lit(2147483648L)
    val c = b.bitwiseXOR(shiftright(b, 13))
    val d = (c * lit(3266489909L)) % lit(2147483648L)
    d.bitwiseXOR(shiftright(d, 16))
  }

  /** Rank cap for the 25-bit post-mix remainder (v = hm div 64, hm < 2³¹). */
  final val MixRankCap = 26

  /** Integer HLL rank of a `cap − 1`-bit remainder: position of the
    * leftmost set bit counted from the top, `cap` for an all-zero
    * remainder. Both engines derive it from the base-2 digit count —
    * Spark `length(conv(v, 10, 2))`, DuckDB `length(bin(v))` — which
    * agree for every v > 0; v = 0 is the explicit cap case.
    */
  private def rankCol(v: Column, cap: Int): Column =
    when(v === 0L, lit(cap))
      .otherwise(lit(cap) - length(conv(v.cast("string"), 10, 2)))

  private def rankSql(v: String, cap: Int): String =
    s"CASE WHEN $v = 0 THEN $cap ELSE $cap - length(bin($v)) END"

  /** The register build: per (keys…, bucket = h % M) the max rank of the
    * remainder h div M under `cap`. Every HLL register matrix (batch,
    * per-column profile, per-day window, mixed-hash sets) is this one
    * aggregate over its own keys and hash column.
    */
  private[graft] def registers(f: DataFrame, keys: Seq[String], h: String,
      cap: Int): DataFrame =
    f.select(keys.map(col) :+ (col(h) % M).cast("int").as("bucket") :+
        rankCol(expr(s"$h div $M"), cap).cast("int").as("rank"): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max("rank").as("register"))

  private[graft] def registersSql(from: String, keys: Seq[String], h: String,
      cap: Int): String =
    s"""SELECT ${keys.mkString(", ")}, CAST($h % $M AS INTEGER) AS bucket,
       |       CAST(max(${rankSql(s"($h // $M)", cap)}) AS INTEGER) AS register
       |FROM $from GROUP BY ${keys.mkString(", ")}, bucket""".stripMargin

  /** The scaled estimator state per group of a register frame: `present`
    * buckets and est_scaled = Σ 2^(57−r) + (M − present)·2^57, the
    * harmonic-mean denominator Σ 2^(−r) over all M buckets (absent ones at
    * rank 0) scaled by 2^57. Ranks ≥ 1 make every term an exact BIGINT
    * ≤ 2^56 and the sum < 2^63, so it is cross-engine exact.
    */
  private[graft] def scaledDenom(regs: DataFrame, keys: String*): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("present"),
        sum(expr("shiftleft(1L, 57 - register)")).as("esp"))
      .select(keys.map(col) :+ col("present") :+
        (col("esp") + (lit(M.toLong) - col("present")) * (1L << 57))
          .as("est_scaled"): _*)

  private[graft] def scaledDenomSql(regs: String, keys: String*): String =
    s"""SELECT ${keys.mkString(", ")}, CAST(count(*) AS BIGINT) AS present,
       |       CAST(sum(CAST(1 AS BIGINT) << (57 - register))
       |            + ($M - count(*)) * (CAST(1 AS BIGINT) << 57) AS BIGINT)
       |         AS est_scaled
       |FROM $regs GROUP BY ${keys.mkString(", ")}""".stripMargin

  /** The (event_type, h, extra…) rows of an events frame, with every row
    * repeated under the '*' global tier (a literal-tag UNION, identical in
    * both engines — the FIXTURES.md augmentation pattern).
    */
  private def tiers(events: DataFrame, extra: String*): DataFrame = {
    val ev = events.select(col("event_type") +:
      poly_hash(col("user_id").cast("string")).as("h") +: extra.map(col): _*)
    ev.unionAll(ev.select(lit("*").as("event_type") +: col("h") +: extra.map(col): _*))
  }

  /** The oracle's `ev` and `tiers` CTEs ([[tiers]] in SQL). */
  private def tiersSql(extra: String*): String = {
    val x = extra.map(", " + _).mkString
    s"""ev AS (
       |  SELECT event_type,
       |         ${Dedup.hashSql("CAST(user_id AS VARCHAR)")} AS h$x
       |  FROM events),
       |tiers AS (
       |  SELECT event_type, h$x FROM ev
       |  UNION ALL SELECT '*' AS event_type, h$x FROM ev)""".stripMargin
  }

  /** The (group, bucket, register) matrix for one keyed frame: group by
    * event_type plus the '*' global tier.
    */
  private[graft] def hllRegisters(s: SparkSession, dir: String): DataFrame =
    hllRegistersFrom(Tables(s, dir, "events"))

  /** The register build over an explicit events frame. */
  private[graft] def hllRegistersFrom(events: DataFrame): DataFrame =
    registers(tiers(events), Seq("event_type"), "h", RankCap)
      .orderBy("event_type", "bucket")

  /** Single-tier HLL register vector over one id column — the
    * q_hll_registers builder without the event-type tiers; bounded
    * ≤ [[M]] rows whatever the input cardinality. Feeds the bounded
    * doc-re-ingest tripwire in [[graft.streaming.Streams]].BoilerFold.
    *
    * Routed through [[mix31]] (the q_hll_intersect path): the ids here
    * are SHORT decimal strings (doc_id cast to string), exactly the
    * arithmetic-progression-like PolyHash orbit whose raw-regime ranks
    * under-estimate ~2× once distinct ids leave the m=64 linear-counting
    * regime (~160) — a 2×-low estimate would let the tripwire's 1.5×
    * gate page on a contract-abiding stream. Post-mix accuracy is ~8%
    * (SketchesSpec gates it at 1,000 ids against the 1.5× margin).
    */
  private[graft] def hllRegistersOf(ids: DataFrame, idCol: String): DataFrame =
    registers(ids.select(mix31(poly_hash(col(idCol).cast("string"))).as("hm")),
      Nil, "hm", MixRankCap)

  /** The Count–Min cells of one PolyHash value: [[CountMin.D]] rows ×
    * [[CountMin.W]] buckets, row-j bucket [[CountMin.bucket]] =
    * ((h·(2j+1) + 101j + 17) mod 1e9+7) mod W — shared by q_cms_counts,
    * q_join_size_est and the streaming per-window grid
    * (Streams.cmsGridPerWindow), so batch, stream and the typed
    * CountMinAgg count into IDENTICAL cells by construction.
    */
  private[graft] def cmsBuckets(h: Column): Column =
    array((0 until CountMin.D).map(j =>
      struct(lit(j).as("j"),
        ((h * (2 * j + 1) + lit(101L * j + 17)) % CountMin.Mod % CountMin.W)
          .cast("int").as("b"))): _*)

  /** Row-`j` Count–Min bucket of hash `h` in SQL ([[cmsBuckets]]' cell). */
  private[graft] def cmsBucketSql(h: String, j: String): String =
    s"(($h * (2*$j + 1) + 101*$j + 17) % ${CountMin.Mod}) % ${CountMin.W}"

  /** HLL estimate from a register matrix for one group, computed the
    * paper's way (alpha_m · m² / Σ 2^-M_j with empty buckets at rank 0,
    * small-range linear counting below 2.5m when zero registers exist) —
    * the SketchesSpec accuracy gate, not part of the oracle-compared
    * relation (the registers are; the estimate is derived state).
    */
  private[graft] def estimate(registers: Seq[Int]): Double = {
    val present = registers.size
    val zeros   = M - present // absent buckets ⟺ rank-0 registers
    val alpha   = 0.7213 / (1.0 + 1.079 / M)
    val sum     = registers.map(r => math.pow(2.0, -r)).sum + zeros * 1.0
    val raw     = alpha * M * M / sum
    if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) else raw
  }

  /** Equi-width bucket counts over a (cents: long) frame — the
    * q_hist_quantiles sketch state. Additive: histograms of disjoint
    * shards built against the SAME (lo, width) merge by summing counts
    * (SketchesSpec proves half + half ≡ whole), which is what makes this
    * the re-aggregable quantile sketch. The bucket map is FLOOR division
    * (`div` truncates toward zero, which would fold values up to one
    * bucket width BELOW lo into bucket 0), so sub-lo values land in
    * honest negative diagnostic bucket ids — the frozen-geometry
    * streaming path (Streams.histFold) depends on this; the batch
    * query derives lo = min(cents) and never exercises it.
    */
  private[graft] def centsHist(cents: DataFrame, lo: Long, width: Long): DataFrame =
    cents
      .groupBy(expr(flooredBucketSql("cents", lo, HqBuckets, width))
        .as("bucket_idx"))
      .agg(count(lit(1)).as("cnt"))

  /** FLOOR-division bucket id for an equi-width grid, as Spark SQL text:
    * `floor((v - lo) * buckets / width)`. Spark's `div` truncates toward
    * zero, which would fold sub-lo values up to one bucket width below
    * `lo` into bucket 0 — the CASE corrects the negative-remainder branch
    * so out-of-range values land in honest negative diagnostic ids.
    * Shared by [[centsHist]] and the drift grid
    * ([[graft.ops.Clustering]].pcScoreHist) — every frozen-geometry
    * streaming path depends on this.
    */
  private[graft] def flooredBucketSql(v: String, lo: Long, buckets: Int,
      width: Long): String =
    s"""CASE WHEN (($v - ${lo}L) * $buckets) % ${width}L < 0
       |THEN (($v - ${lo}L) * $buckets) div ${width}L - 1
       |ELSE (($v - ${lo}L) * $buckets) div ${width}L END"""
      .stripMargin.replace('\n', ' ')

  val queries: Seq[Q] = Seq(

    // HyperLogLog register matrix over distinct users, per event type
    // plus the '*' global tier. Every cell — bucket id and max-rank
    // register — is oracle-checked: the first distinct-count sketch with
    // a cell-exact cross-engine proof (q_approx_stats' HLL++ estimate is
    // rows-only). Estimate accuracy and max-merge re-aggregability are
    // property-gated in SketchesSpec.
    Q("q_hll_registers",
      s"""WITH ${tiersSql()},
         |regs AS (${registersSql("tiers", Seq("event_type"), "h", RankCap)})
         |SELECT event_type, bucket, register FROM regs
         |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
      hllRegisters(s, dir)
    },

    // The HLL ESTIMATE layer, oracle-checked as exact integers: the
    // scaled denominator (scaledDenom) is a sum of dyadic integers
    // that never rounds — so the full estimator state (present buckets,
    // scaled denominator) is cross-engine exact, with the true distinct
    // count alongside for the accuracy surface (the float
    // α·m²/denominator step is the consumer's one multiplication;
    // SketchesSpec gates it). Registers come from the same one-shuffle
    // build as q_hll_registers.
    Q("q_hll_estimate",
      s"""WITH ${tiersSql("user_id")},
         |regs AS (${registersSql("tiers", Seq("event_type"), "h", RankCap)}),
         |agg AS (${scaledDenomSql("regs", "event_type")}),
         |exact AS (
         |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact
         |  FROM tiers GROUP BY event_type)
         |SELECT a.event_type, a.present, a.est_scaled, e.exact
         |FROM agg a JOIN exact e USING (event_type)
         |ORDER BY a.event_type""".stripMargin) { (s, dir) =>
      val t = tiers(Tables(s, dir, "events"), "user_id")
      val exact = t.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact"))
      scaledDenom(registers(t, Seq("event_type"), "h", RankCap), "event_type")
        .join(exact, "event_type")
        .select("event_type", "present", "est_scaled", "exact")
        .orderBy("event_type")
    },

    // HLL SET-OPERATION estimates via inclusion–exclusion (Flajolet et
    // al. 2007 §4 discussion): |A ∩ B| ≈ E(A) + E(B) − E(A ∪ B), where
    // the union sketch is the REGISTER MAX-MERGE (the mergeability
    // q_hll_registers proves) — the sketch algebra that answers audience-
    // overlap / cross-split-contamination questions from per-partition
    // sketches WITHOUT re-touching rows. Oracle-checked at the estimator
    // layer: denominators are the exact dyadic integers of
    // q_hll_estimate, and the only float steps are one literal-constant
    // division per set (C / D, correctly rounded IEEE, identical in both
    // engines — C is embedded as the same round-trip double literal) and
    // the fixed-order (a + b) − u sum, then round(6). Sets are the
    // per-orderstatus customer populations (n ≈ 1400 ≫ 2.5m — the raw-
    // estimate regime, no linear-counting branch). Scale shape: one
    // corpus groupBy builds the 3×64-row register matrix; every pair
    // merge and estimate runs on that bounded model frame. The exact_
    // columns are diagnostic ground truth (the corpus-sized distinct
    // self-join a production run would skip — the sketch path never
    // needs it).
    Q("q_hll_intersect",
      s"""WITH o AS (
         |  SELECT o_orderstatus AS st,
         |         ${Dedup.hashSql("CAST(o_custkey AS VARCHAR)")} AS h,
         |         o_custkey
         |  FROM orders),
         |x1 AS (SELECT st, o_custkey, xor(h, h >> 16) AS x FROM o),
         |x2 AS (SELECT st, o_custkey, (x * 2246822507) % 2147483648 AS x FROM x1),
         |x3 AS (SELECT st, o_custkey, xor(x, x >> 13) AS x FROM x2),
         |x4 AS (SELECT st, o_custkey, (x * 3266489909) % 2147483648 AS x FROM x3),
         |mx AS (SELECT st, o_custkey, xor(x, x >> 16) AS hm FROM x4),
         |regs AS (${registersSql("mx", Seq("st"), "hm", MixRankCap)}),
         |d AS (${scaledDenomSql("regs", "st")}),
         |pairs AS (
         |  SELECT a.st AS s1, b.st AS s2
         |  FROM (SELECT DISTINCT st FROM o) a, (SELECT DISTINCT st FROM o) b
         |  WHERE a.st < b.st),
         |mu AS (
         |  SELECT p.s1, p.s2, r.bucket, max(r.register) AS register
         |  FROM pairs p JOIN regs r ON r.st = p.s1 OR r.st = p.s2
         |  GROUP BY 1, 2, 3),
         |du AS (${scaledDenomSql("mu", "s1", "s2")}),
         |nx AS (
         |  SELECT st, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n
         |  FROM o GROUP BY st),
         |ex AS (
         |  SELECT a.st AS s1, b.st AS s2, CAST(count(*) AS BIGINT) AS exact_inter
         |  FROM (SELECT DISTINCT st, o_custkey FROM o) a
         |  JOIN (SELECT DISTINCT st, o_custkey FROM o) b
         |    ON b.o_custkey = a.o_custkey AND a.st < b.st
         |  GROUP BY 1, 2)
         |SELECT p.s1, p.s2, na.n AS n_a, nb.n AS n_b,
         |       coalesce(ex.exact_inter, 0) AS exact_inter,
         |       round($HllEstC / CAST(da.est_scaled AS DOUBLE), 6) AS est_a,
         |       round($HllEstC / CAST(db.est_scaled AS DOUBLE), 6) AS est_b,
         |       round($HllEstC / CAST(du.est_scaled AS DOUBLE), 6) AS est_u,
         |       round(($HllEstC / CAST(da.est_scaled AS DOUBLE)
         |              + $HllEstC / CAST(db.est_scaled AS DOUBLE))
         |             - $HllEstC / CAST(du.est_scaled AS DOUBLE), 6) AS est_inter
         |FROM pairs p
         |JOIN d da ON da.st = p.s1 JOIN d db ON db.st = p.s2
         |JOIN du ON du.s1 = p.s1 AND du.s2 = p.s2
         |JOIN nx na ON na.st = p.s1 JOIN nx nb ON nb.st = p.s2
         |LEFT JOIN ex ON ex.s1 = p.s1 AND ex.s2 = p.s2
         |ORDER BY p.s1, p.s2""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .select(col("o_orderstatus").as("st"),
          poly_hash(col("o_custkey").cast("string")).as("h"), col("o_custkey"))
      val regs = registers(o.withColumn("hm", mix31(col("h"))), Seq("st"), "hm",
        MixRankCap)
      val d = scaledDenom(regs, "st")
      // status-taxonomy pair frame: both sides bounded by the distinct
      // o_orderstatus cardinality (3) — broadcast keeps the non-equi pair
      // join out of CartesianProduct (allowlisted, the drift_daily class)
      val pairs = regs.select("st").distinct()
        .join(broadcast(regs.select(col("st").as("s2")).distinct()),
          col("st") < col("s2"))
        .select(col("st").as("s1"), col("s2"))
      val mu = pairs.join(regs.select(col("st").as("s1"), col("bucket"),
          col("register")), Seq("s1"))
        .select(col("s1"), col("s2"), col("bucket"), col("register"))
        .unionAll(pairs.join(regs.select(col("st").as("s2"), col("bucket"),
            col("register")), Seq("s2"))
          .select(col("s1"), col("s2"), col("bucket"), col("register")))
        .groupBy("s1", "s2", "bucket").agg(max("register").as("register"))
      val du = scaledDenom(mu, "s1", "s2")
      val nx = o.groupBy("st").agg(countDistinct("o_custkey").as("n"))
      val dk = o.select(col("st"), col("o_custkey")).distinct()
      val ex = dk.as("a")
        .join(dk.select(col("st").as("s2"), col("o_custkey")).as("b"),
          col("a.o_custkey") === col("b.o_custkey") && col("st") < col("s2"))
        .groupBy(col("st").as("s1"), col("s2"))
        .agg(count(lit(1)).as("exact_inter"))
      def est(dn: Column): Column = lit(HllEstC) / dn.cast("double")
      pairs
        .join(d.select(col("st").as("s1"), col("est_scaled").as("dna")), Seq("s1"))
        .join(d.select(col("st").as("s2"), col("est_scaled").as("dnb")), Seq("s2"))
        .join(du.select(col("s1"), col("s2"), col("est_scaled").as("dnu")),
          Seq("s1", "s2"))
        .join(nx.select(col("st").as("s1"), col("n").as("n_a")), Seq("s1"))
        .join(nx.select(col("st").as("s2"), col("n").as("n_b")), Seq("s2"))
        // LEFT join: a disjoint pair (zero shared customers) must still
        // emit its inclusion–exclusion estimate — the 'no contamination'
        // answer — rather than vanish with the empty exact diagnostic.
        .join(ex, Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"), col("n_a"), col("n_b"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          round(est(col("dna")), 6).as("est_a"),
          round(est(col("dnb")), 6).as("est_b"),
          round(est(col("dnu")), 6).as("est_u"),
          round((est(col("dna")) + est(col("dnb"))) - est(col("dnu")), 6)
            .as("est_inter"))
        .orderBy("s1", "s2")
    },

    // Johnson–Lindenstrauss random projection with a ±1 sign matrix
    // (Achlioptas 2003, "Database-friendly random projections"): each of
    // the 16 output coordinates is an exact integer signed sum of the
    // micro-snapped 64-dim embedding. The sign matrix is DERIVED state —
    // sign(i,j) from an integer hash (see [[projSign]]) — generated once
    // in Scala and folded as literals into BOTH the codegen'd Spark
    // expressions and the oracle SQL, so cross-engine agreement is
    // structural. Scale shape: a pure narrow projection (the 64×16 matrix
    // is bounded model state) — zero shuffle, composes with the scan at
    // full parallelism; the JL distance-preservation guarantee is
    // property-gated in SketchesSpec.
    Q("q_rand_proj", {
      val cols = (0 until ProjDim).map { j =>
        val lits = (0 until EmbDim).map(i => projSign(i, j)).mkString(", ")
        s"CAST(list_sum(list_transform(range(1, ${EmbDim + 1}), " +
          s"i -> vm[i] * ([$lits])[i])) AS BIGINT) AS p$j"
      }.mkString(",\n       ")
      s"""WITH v AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
         |  FROM embeddings)
         |SELECT vec_id,
         |       $cols
         |FROM v ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val vm = Clustering.vmOf(Tables(s, dir, "embeddings"))
      val cols = (0 until ProjDim).map { j =>
        val lits = (0 until EmbDim).map(i => s"${projSign(i, j)}L").mkString(", ")
        expr(s"aggregate(zip_with(vm, array($lits), (x, c) -> x * c), " +
          "0L, (a, b) -> a + b)").cast("long").as(s"p$j")
      }
      vm.select(col("vec_id") +: cols: _*).orderBy("vec_id")
    },

    // Trailing-7-day distinct-user sketch: per-DAY HLL registers max-merged
    // over each day's trailing week — the operational payoff of register
    // mergeability (q_hll_registers proves the algebra; this query uses
    // it): any time window's cardinality comes from stored daily
    // registers, never a re-scan of the raw stream. The merge runs on the
    // (days × 64) register grid — bounded state, the Streams.dayTypeFold
    // class — via an interval join identical in both engines; raw events
    // are touched exactly once by the daily build.
    Q("q_hll_window_7d",
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS d,
         |         ${Dedup.hashSql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |daily AS (${registersSql("ev", Seq("d"), "h", RankCap)}),
         |days AS (SELECT DISTINCT d FROM daily),
         |grid AS (SELECT days.d, b.bucket
         |         FROM days CROSS JOIN (SELECT DISTINCT bucket FROM daily) b),
         |win AS (
         |  SELECT g.d, g.bucket,
         |         CAST(coalesce(max(x.register), 0) AS INTEGER) AS register
         |  FROM grid g LEFT JOIN daily x
         |    ON x.bucket = g.bucket AND x.d BETWEEN g.d - INTERVAL 6 DAY AND g.d
         |  GROUP BY 1, 2)
         |SELECT d, bucket, register FROM win
         |ORDER BY d, bucket""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("ts").cast("date").as("d"),
          poly_hash(col("user_id").cast("string")).as("h"))
      val daily   = registers(ev, Seq("d"), "h", RankCap)
      val days    = daily.select("d").distinct()
      val buckets = daily.select("bucket").distinct()
      // ≤64-row register-width frame: the bounded-dimension broadcast
      // class (PlanShapeSpec allowlist) — keeps the tiny grid build a
      // BroadcastNestedLoopJoin, never a CartesianProduct
      val grid    = days.crossJoin(broadcast(buckets))
      grid.join(daily.select(col("bucket").as("xb"), col("d").as("xd"),
          col("register").as("r")),
          col("xb") === col("bucket") &&
            col("xd").between(date_sub(col("d"), 6), col("d")), "left")
        .groupBy("d", "bucket")
        .agg(coalesce(max("r"), lit(0)).cast("int").as("register"))
        .orderBy("d", "bucket")
    },

    // Sketch-based equi-join size estimation (the AMS/CMS inner-product
    // estimator — Alon, Matias & Szegedy 1999; Cormode & Muthukrishnan
    // 2005 §4.2): |R ⋈ S on k| = Σ_v f_R(v)·f_S(v), estimated per CMS row
    // as Σ_b cmsR[j][b]·cmsS[j][b] and min'd over the 4 rows — an upper
    // bound whose slack is the collision cross-mass. The planner-side use
    // is sizing a join BEFORE running it from two 4 KiB sketches built in
    // each table's scan (no co-shuffle of the inputs — the sketches meet
    // on the fixed (j, b) grid). Probed on events.user_id ⋈ o_custkey;
    // the exact size rides along, so the oracle check also certifies the
    // overestimate-only envelope row-for-row. Deterministic PolyHash →
    // both engines build identical matrices; all sums exact integers.
    Q("q_join_size_est",
      s"""WITH h1 AS (
         |  SELECT ${Dedup.hashSql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |h2 AS (
         |  SELECT ${Dedup.hashSql("CAST(o_custkey AS VARCHAR)")} AS h
         |  FROM orders),
         |c1 AS (
         |  SELECT j, ${cmsBucketSql("h", "j")} AS b, CAST(count(*) AS BIGINT) AS n
         |  FROM h1 CROSS JOIN range(0, ${CountMin.D}) t(j) GROUP BY 1, 2),
         |c2 AS (
         |  SELECT j, ${cmsBucketSql("h", "j")} AS b, CAST(count(*) AS BIGINT) AS n
         |  FROM h2 CROSS JOIN range(0, ${CountMin.D}) t(j) GROUP BY 1, 2),
         |est AS (
         |  SELECT c1.j, CAST(sum(c1.n * c2.n) AS BIGINT) AS est
         |  FROM c1 JOIN c2 ON c2.j = c1.j AND c2.b = c1.b
         |  GROUP BY c1.j),
         |exact AS (
         |  SELECT CAST(sum(f1.n * f2.n) AS BIGINT) AS x FROM
         |    (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1) f1
         |    JOIN (SELECT o_custkey AS k, count(*) AS n FROM orders
         |          GROUP BY 1) f2 USING (k))
         |SELECT j, est, x AS exact, est - x AS overcount
         |FROM est CROSS JOIN exact
         |ORDER BY j""".stripMargin) { (s, dir) =>
      def cells(keyed: DataFrame): DataFrame = keyed
        .select(poly_hash(col("k").cast("string")).as("h"))
        .select(explode(cmsBuckets(col("h"))).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
        .agg(count(lit(1)).as("n"))
      val ev  = Tables.events(s, dir).select(col("user_id").as("k"))
      val ord = Tables(s, dir, "orders").select(col("o_custkey").as("k"))
      val est = cells(ev).withColumnRenamed("n", "n1")
        .join(cells(ord).withColumnRenamed("n", "n2"), Seq("j", "b"))
        .groupBy("j").agg(sum(col("n1") * col("n2")).as("est"))
      val exact = ev.groupBy("k").agg(count(lit(1)).as("n1"))
        .join(ord.groupBy("k").agg(count(lit(1)).as("n2")), "k")
        .agg(sum(col("n1") * col("n2")).as("exact")) // single-row total
      est.crossJoin(broadcast(exact))
        .select(col("j"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy("j")
    },

    // Bottom-k QUANTILE sketch (coordinated sampling, Cohen & Kaplan
    // 2007): the k rows with the smallest deterministic PolyHash of
    // their unique id form an order-free, MERGEABLE uniform sample per
    // group (min-k of a fixed hash commutes — any partitioning, any
    // merge order, same sample), and the sample's order statistics
    // estimate the group's quantiles with O(1/√k) rank error. Unlike
    // KLL/MRL compaction — whose result depends on arrival order — the
    // bottom-k sample is a pure function of the data MULTISET, which is
    // what makes this the rare quantile sketch the DuckDB oracle can
    // reproduce CELL-EXACTLY (same hash, same selection, same
    // estimator; SketchesSpec gates the rank error vs exact quantiles
    // on top). Values snap to integer micros before selection (the
    // integer-cents rule). Scale: the per-group rank is a partitioned
    // window; per-group state is the k-row sample (bounded model
    // state); a pathological mega-group is the TopKAgg partial-
    // aggregator escape hatch, the q_domain_caps note.
    Q("q_bottomk_quantiles",
      s"""WITH h AS (
         |  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v,
         |         ${Dedup.hashSql("CAST(event_id AS VARCHAR)")} AS hk,
         |         event_id
         |  FROM events),
         |r AS (
         |  SELECT event_type, v,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY hk, event_id) AS rn
         |  FROM h),
         |smp AS (
         |  SELECT event_type, list_sort(list(v)) AS s,
         |         CAST(count(*) AS BIGINT) AS k
         |  FROM r WHERE rn <= $BkK GROUP BY event_type)
         |SELECT event_type, k,
         |       s[CAST(ceil(0.5 * k) AS BIGINT)] AS est_p50,
         |       s[CAST(ceil(0.9 * k) AS BIGINT)] AS est_p90,
         |       s[CAST(ceil(0.99 * k) AS BIGINT)] AS est_p99
         |FROM smp ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 1000000).cast("long").as("v"),
        poly_hash(col("event_id").cast("string")).as("hk"), col("event_id"))
      val w = Window.partitionBy("event_type").orderBy("hk", "event_id")
      h.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= BkK)
        .groupBy("event_type")
        .agg(sort_array(collect_list("v")).as("s"), count(lit(1)).as("k"))
        .select(col("event_type"), col("k"),
          expr("s[CAST(ceil(0.5 * k) AS INT) - 1]").as("est_p50"),
          expr("s[CAST(ceil(0.9 * k) AS INT) - 1]").as("est_p90"),
          expr("s[CAST(ceil(0.99 * k) AS INT) - 1]").as("est_p99"))
        .orderBy("event_type")
    },

    // EQUI-WIDTH HISTOGRAM QUANTILES — the OTHER quantile sketch, with
    // ADDITIVE state: q_bottomk_quantiles keeps a hash-min SAMPLE per
    // group (probabilistic rank error; merging shards means re-selecting
    // the bottom k of the union), while the histogram keeps HqBuckets
    // bucket COUNTS whose merge is a vector add — the shard/day/stream
    // re-aggregation face (SketchesSpec proves half+half ≡ whole), and
    // whose error is a deterministic VALUE bracket: cum_count ≥
    // target_rank picks the first bucket covering the rank, so the exact
    // q-quantile provably lies in [est_lo_cents, est_hi_cents]
    // (SketchesSpec gates containment against the true sorted quantile).
    // No global sort anywhere: one bounded agg for (lo, hi, n) — three
    // scalars of model state — one narrow bucketing pass with map-side
    // partial counts, then every remaining step runs on the ≤256-row
    // histogram frame. All arithmetic is exact int64 on cents (the
    // integer-cents rule): bucket = (c-lo)·B div width, rank ceil as
    // (pct·n + 99) div 100 — no float decides anything.
    Q("q_hist_quantiles",
      s"""WITH c AS (
         |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem),
         |mm AS (SELECT min(cents) AS lo, max(cents) AS hi,
         |              CAST(count(*) AS BIGINT) AS n FROM c),
         |b AS (SELECT ((cents - lo) * $HqBuckets) // (hi - lo + 1) AS bucket_idx
         |      FROM c, mm),
         |h AS (SELECT bucket_idx, CAST(count(*) AS BIGINT) AS cnt
         |      FROM b GROUP BY 1),
         |cum AS (SELECT bucket_idx, cnt,
         |               CAST(sum(cnt) OVER (ORDER BY bucket_idx) AS BIGINT)
         |                 AS cum_count
         |        FROM h),
         |qs AS (SELECT CAST(unnest([${HqPcts.mkString(", ")}]) AS INTEGER)
         |                AS pct),
         |tgt AS (SELECT pct, (pct * n + 99) // 100 AS target_rank
         |        FROM qs, mm),
         |hit AS (SELECT pct, target_rank, min(bucket_idx) AS bucket_idx
         |        FROM tgt JOIN cum ON cum.cum_count >= tgt.target_rank
         |        GROUP BY 1, 2)
         |SELECT pct, target_rank, hit.bucket_idx, cum.cum_count,
         |       lo + (hit.bucket_idx * (hi - lo + 1)) // $HqBuckets
         |         AS est_lo_cents,
         |       lo + ((hit.bucket_idx + 1) * (hi - lo + 1)) // $HqBuckets - 1
         |         AS est_hi_cents
         |FROM hit JOIN cum ON cum.bucket_idx = hit.bucket_idx, mm
         |ORDER BY pct""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cents = Tables.lineitem(s, dir)
        .select(Relational.cents(col("l_extendedprice")).as("cents"))
      // (lo, hi, n): three scalars — bounded model state, one agg pass
      val r = cents.agg(min("cents"), max("cents"), count(lit(1))).head()
      val (lo, hi, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val width = hi - lo + 1
      val hist = centsHist(cents, lo, width)
      // cumulative over the ≤HqBuckets-row histogram frame as a
      // broadcast ≤-join + groupBy — the q_cum_distinct_users idiom
      // (O(HqBuckets²) GRID rows, no global window)
      val hb = hist.select(col("bucket_idx").as("xb"), col("cnt").as("xc"))
      val cum = hist.join(broadcast(hb), col("xb") <= col("bucket_idx"))
        .groupBy("bucket_idx")
        .agg(max("cnt").as("cnt"), sum("xc").as("cum_count"))
      val tgt = HqPcts.toDF("pct")
        .select(col("pct"), expr(s"(pct * ${n}L + 99) div 100").as("target_rank"))
      val hit = tgt.join(cum, col("cum_count") >= col("target_rank"))
        .groupBy("pct", "target_rank").agg(min("bucket_idx").as("bucket_idx"))
      hit.join(cum.select("bucket_idx", "cum_count"), "bucket_idx")
        .select(col("pct"), col("target_rank"), col("bucket_idx"),
          col("cum_count"),
          expr(s"${lo}L + bucket_idx * ${width}L div $HqBuckets")
            .as("est_lo_cents"),
          expr(s"${lo}L + (bucket_idx + 1) * ${width}L div $HqBuckets - 1")
            .as("est_hi_cents"))
        .orderBy("pct")
    }
  )

  /** Bottom-k sample size per group (q_bottomk_quantiles). */
  final val BkK = 256

  /** Projection width and input embedding width. */
  final val ProjDim = 16
  final val EmbDim  = 64

  /** Deterministic ±1 sign for matrix cell (i, j): parity of an integer
    * hash — both engines consume the RESULT as literals, so the formula
    * only needs to be deterministic, not cross-engine portable.
    */
  private[graft] def projSign(i: Int, j: Int): Long =
    if (((i.toLong * 1315423911L + j.toLong * 2654435761L) % 1000000007L) % 2L == 1L)
      1L else -1L
}
