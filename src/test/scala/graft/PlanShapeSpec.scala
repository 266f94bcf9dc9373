package graft

/** Locks in the physical-plan properties the engine relies on (SURVEY §4):
  * filter pushdown into parquet, column pruning, broadcast dimension joins,
  * top-k without a global sort. A regression here costs nothing at test
  * scale and everything at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("pricing summary pushes the date filter into the parquet scan") {
    val p = plan("q_agg_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n${p.take(2000)}")
  }

  test("pricing summary prunes to only the needed lineitem columns") {
    val p = plan("q_agg_pricing_summary")
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_partkey"),
      s"column pruning regressed: $readSchema")
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q_join_broadcast_dims").contains("BroadcastHashJoin"))
    assert(plan("q_tpch_q5_region").contains("BroadcastHashJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!"(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).hasNext,
      "top-k should not shuffle")
  }

  test("deterministic sampling computes narrowly (no hash-partition shuffle)") {
    // the split predicate must stay a per-row expression that composes with
    // the scan: the ONLY allowed exchange is the rangepartitioning sort of
    // the final presentation ORDER BY (oracle-compare determinism), never a
    // hashpartitioning of the data itself
    val p = plan("q_sample_hash")
    assert(!p.contains("hashpartitioning"),
      s"sampling should not hash-shuffle:\n${p.take(1500)}")
  }

  test("decontamination carries no pinned broadcast of the eval-gram set") {
    // te (distinct eval grams) is corpus-proportional under the declared
    // 90/10 split — a pinned broadcast is exactly the 100 TB OOM shape.
    // The hint must stay OUT of the logical plan; AQE converts the join to
    // broadcast at runtime while the eval set measures genuinely small.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = SparkEntry.queries("q_decontaminate")(spark, sfDir)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"q_decontaminate pins ${hints.size} broadcast hint(s)")
    // join-before-dedup shape must survive: THE per-doc countDistinct
    // aggregate (group by doc_id, distinct over gram) must sit directly
    // above the gram-key join, so bulk train grams are filtered by the
    // join before the dedup ever shuffles them. Matching the specific
    // aggregate (not "any Aggregate over any Join") so a regression that
    // moved the countDistinct below the join cannot hide behind an
    // unrelated agg-over-join elsewhere in the plan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val shape = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate
        if a.groupingExpressions.exists(_.references.exists(_.name == "doc_id")) &&
          a.aggregateExpressions.exists(_.collectFirst {
            case ae: AggregateExpression
              if ae.isDistinct &&
                ae.aggregateFunction.references.exists(_.name == "gram") => ae
          }.nonEmpty) &&
          a.child.collectFirst {
            case j: Join if j.condition.exists(
              _.references.exists(_.name == "gram")) => j
          }.nonEmpty => a
    }
    assert(shape.nonEmpty,
      "decontaminate lost its join-before-dedup shape: the doc_id-grouped " +
        "countDistinct(gram) no longer sits above the gram-key join")
  }

  test("broadcast hints appear only on provably bounded join sides") {
    // The analog of the no-global-window lock: an unconditional broadcast
    // hint on a data-proportional frame runs fine at sf0.1 and OOMs at
    // 100 TB. Only these queries may pin a broadcast, each with a
    // scale-invariance argument for the hinted side:
    //   - q_range_join_buckets: 4-row literal bucket dim
    //   - q_join_broadcast_dims / q_tpch_q5_region: nation (25) / region
    //     (5) — fixed-cardinality TPC-H dims, invariant under SF
    //   - q_tfidf_top_terms / q_unigram_logprob: single-row COUNT/SUM
    //     aggregates (corpus size / token mass)
    //   - q_vocab_coverage: ONLY the single-row total-mass aggregate is
    //     hinted. The O(sqrt N) per-count-value frame is NOT (at 2e13
    //     tokens it is ~6M rows × 3 longs ≈ 150+ MB — feasible but past
    //     what an unconditional hint should pin; AQE decides at runtime).
    //   - similarity/ANN top-k family: the hinted side is the PROBE batch,
    //     bounded BY CONSTRUCTION — Similarity.probeBatch caps it with a
    //     deterministic orderBy+limit(MaxProbeBatch), so a GlobalLimit node
    //     sits under every probe-side hint in the plan itself (asserted
    //     below), regardless of what fraction of the corpus the fixture's
    //     vec_id % 100 membership selects. A production probe batch is a
    //     bounded external lookup input; the fixture now carries the same
    //     structural guarantee.
    //   - q_bloom_semi_join: the hinted side is the single-row Bloom
    //     sketch aggregate — 16 KiB FIXED size (2^17 bits) regardless of
    //     either table's scale, the same class as the tfidf/unigram
    //     single-row aggregates.
    //   - q_domain_mix_temp: both hinted sides are single-row aggregates
    //     (corpus size / weight normalizer) — same class as tfidf/unigram.
    //   - q_bm25_topk: hinted sides are the single-row corpus stats and
    //     the |query-terms|-row df frame (bounded by the query literal,
    //     not by data).
    //   - q_bm25_pruned: the same single-row stats plus two views of the
    //     |query-terms|-row upper-bound frame (ub / idf per query term) —
    //     bounded by the query literal, the q_bm25_topk class.
    //   - q_rrf_fusion: embeds q_bm25_topk (same hints) plus a pinned
    //     SINGLE-ROW probe-embedding frame (vec_id = ProbeId).
    //   - q_retrieval_full: the composed serving pipeline — its hints are
    //     exactly the embedded q_bm25_topk candidate-stage hints
    //     (single-row stats + |query-terms|-row df) plus the rrf-class
    //     single-row probe embedding; everything downstream of the
    //     candidate stage is ≤ CandK rows by LIMIT construction.
    //   - q_bigram_nll / q_dsir_weights / q_pagerank_neardup /
    //     q_pmi_collocations: the hinted side is a SINGLE-ROW total (token
    //     mass / corpus+vocab sizes / vertex count) — the tfidf/unigram
    //     class.
    //   - q_drift_daily: the hinted side is the single-row distinct-type
    //     count (taxonomy cardinality) — the tfidf/unigram class.
    //   - q_knn_classify: embeds q_cosine_topk — the hints are the same
    //     structurally-capped probe batch (GlobalLimit asserted below).
    //   - q_tfidf_cosine_pairs: the broadcast-hinted side is the
    //     single-row document-count aggregate — the tfidf/unigram class.
    //     Also carries a SHUFFLE_HASH strategy hint on the postings
    //     self-join: not a broadcast (both sides stay shuffle-partitioned
    //     on the feature key; build side is Θ(postings/partitions) per
    //     task), it only steers SMJ→hash to avoid the per-output-row
    //     buffered re-scan on dense equal-key runs.
    //   - q_naive_bayes_lang: hinted sides are two single-row totals
    //     (vocab size / doc count) and the |classes|-row model frame —
    //     bounded by the label taxonomy, the q_drift_daily class.
    //   - q_join_size_est: the hinted side is the single-row exact-size
    //     total — the tfidf/unigram class.
    //   - q_hll_window_7d: the hinted side is the distinct-bucket frame —
    //     ≤ 64 rows by the register-width constant, the drift_daily class.
    //   - q_cum_distinct_users: the hinted side is the day-keyed new-user
    //     count frame — bounded by retention days, the drift_daily class.
    val allowed = Set(
      "q_range_join_buckets", "q_join_broadcast_dims", "q_tpch_q5_region",
      "q_tfidf_top_terms", "q_unigram_logprob", "q_vocab_coverage",
      "q_cosine_topk", "q_cosine_topk_ann", "q_ann_lsh_topk", "q_hard_negatives",
      "q_ann_screen_topk", "q_ann_ivf_topk", "q_sq_topk", "q_bloom_semi_join",
      "q_domain_mix_temp", "q_bm25_topk", "q_rrf_fusion", "q_retrieval_full",
      // the batch serving path: hinted sides are the ≤ RbProbes·RbTerms
      // probe-term frame and its distinct-token projection (both derive
      // from the GlobalLimit-capped probe batch), the single-row corpus
      // stats, the |matched terms|-row df frame (≤ the term set), the
      // ≤ RbProbes-row probe-embedding frame, and the ≤ RbProbes·CandK
      // candidate/cos frames (TopKAgg-capped by construction)
      "q_retrieval_batch",
      "q_pq_topk",
      // IVFPQ composite: both hinted sides are the structurally-capped
      // probe batch (cell-exploded and plain — GlobalLimit under each,
      // asserted below), the q_pq_topk/q_ann_ivf_topk classes combined
      "q_ivfpq_topk",
      "q_bigram_nll", "q_dsir_weights", "q_pagerank_neardup",
      // the hinted side is the single-row bigram-type total — the
      // tfidf/unigram single-row class
      "q_kneser_ney",
      // hinted sides are the single-row seed count and the |sources|-
      // bounded seed frame — the pagerank single-row + drift_daily classes
      "q_ppr_seeded",
      // embeds q_bm25_topk (its literal-bounded hints) + the pinned
      // single-row probe (the rrf class) + three ≤RboDepth-row frames
      // (depth grid, joined rank lists, per-depth terms) — bounded by the
      // k/depth literals, not by data
      "q_rbo_rankings",
      // embeds q_cosine_topk + q_sq_topk (their structurally-capped probe
      // batches — GlobalLimit under each hint) plus the 10-row depth-
      // weight literal frame — bounded by the RboDepth literal
      "q_rbo_per_probe",
      // hinted sides are the collected exact-top-k literal frame (bounded:
      // GlobalLimit-capped probes × 10), the per-setting single-row hit
      // aggregates, and the embedded probe-batch/bound hints of the swept
      // ANN operators (each GlobalLimit-capped or single-row)
      "q_ann_calibration",
      "q_pmi_collocations", "q_drift_daily", "q_knn_classify",
      "q_bm25_pruned", "q_tfidf_cosine_pairs", "q_naive_bayes_lang",
      "q_join_size_est", "q_hll_window_7d", "q_cum_distinct_users",
      // the hinted side is the distinct order-status frame — bounded by
      // the status taxonomy (3 values), the drift_daily class
      "q_hll_intersect",
      // both ≤-join hinted sides are day-bounded frames (daily counts /
      // daily prefix sums) plus the single-row mean — the
      // q_cum_distinct_users class
      "q_cusum_changepoint",
      // hinted sides are the day-max frame and its prefix-max derivative —
      // bounded by the order-date domain, the q_cum_distinct_users class
      "q_skyline_orders",
      // the hinted sides are the single-row max-doc-id total, the two
      // 20-row fixed-checkpoint bucket frames (bounded by construction:
      // b = doc_id·20 div (max+1) ≤ 19 at any corpus size), and the
      // single-row Heaps-slope fit — the tfidf/unigram + day-series
      // classes combined
      "q_heaps_law",
      // both hinted sides are the single-row era-total aggregates over
      // the ≤(EdBuckets+overflow)-row bucket grids — the tfidf/unigram
      // single-row class (the grids themselves are bounded by the
      // EdBuckets constant, never by data)
      "q_embed_drift",
      // the same two single-row era totals: q_drift_alerts is
      // q_embed_drift's report behind one filter on the bounded grid
      "q_drift_alerts",
      // the era totals again PLUS the left-semi broadcast of the alert
      // frame — bounded by the EdBuckets constant (≤ 16 + overflow
      // rows), never by data: the tombstone scan is one narrow semi-join
      // of the scored era against that constant-sized frame
      "q_drift_tombstones",
      // the hinted side is the single-row weight total Σw over the
      // |sources|-bounded frame — the q_domain_mix_temp class
      "q_epoch_schedule",
      // SHUFFLE_HASH strategy hint only (no broadcast): the 697-way
      // probe explode's size is underestimated by Catalyst stats, and a
      // stats-driven broadcast would collect the exploded frame to the
      // driver (observed maxResultSize abort at ×50, SCALING.md) — the
      // hint pins the candidate join to shuffle-partitioned hash
      "q_hamming_mih", "q_hamming_mih128",
      // same engine, perceptual-image plane: the dHash pair search rides
      // mihPairs and carries the identical SHUFFLE_HASH pin
      "q_dhash_mih",
      // same engine twice (one sized-MIH pass per code family) — both
      // hints are the mihPairsChunked SHUFFLE_HASH pin, no broadcast
      "q_hash_agreement",
      // the cross-frame ingest variant (mihJoinChunked): identical
      // SHUFFLE_HASH rationale — the exploded PROBE side's stats are
      // underestimated; both sides stay partitioned on (chunk, key)
      "q_perc_ingest",
      // SHUFFLE_HASH strategy hints only (no broadcast): the per-round
      // wedge self-join and closing-edge join are dense equal-key joins
      // on clique hubs — SMJ's buffered re-scan per output row costs 10×
      // (measured 172 s → 63 s for the 4-round peel on the minhash doc
      // graph at sf0.1 before the substrate decision); the pair source
      // also carries mihPairs' pinned chunk join (the q_hamming_mih class)
      "q_ktruss",
      // same engine, text plane: the 128-bit SimHash pair search rides
      // mihPairs and carries the identical SHUFFLE_HASH pin
      "q_simhash_pairs128",
      // the hinted side is the ≤HqBuckets(256)-row histogram frame in the
      // cumulative ≤-join — bounded by the bucket-count constant, the
      // q_cum_distinct_users day-series class
      "q_hist_quantiles")
    // hints whose boundedness argument is the probe-batch cap: the hinted
    // subtree must actually contain the GlobalLimit
    val probeHinted = Set("q_cosine_topk", "q_cosine_topk_ann",
      "q_ann_lsh_topk", "q_ann_screen_topk", "q_ann_ivf_topk", "q_pq_topk",
      "q_ivfpq_topk",
      "q_knn_classify", "q_sq_topk",
      // the label-mismatch negative miner: same structurally-capped probe
      // batch broadcast (GlobalLimit under the hint)
      "q_hard_negatives")
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, ResolvedHint}
    SparkEntry.all.foreach { q =>
      val hints = q.build(spark, sfDir).queryExecution.analyzed.collect {
        case h: ResolvedHint => h
      }
      if (!allowed(q.name))
        assert(hints.isEmpty,
          s"${q.name} pins ${hints.size} broadcast hint(s) — either the side is " +
            "data-proportional (remove the hint, let AQE decide) or it is provably " +
            "bounded (add it to the allowlist above WITH the argument)")
      if (probeHinted(q.name))
        hints.foreach { h =>
          assert(h.child.collectFirst { case g: GlobalLimit => g }.nonEmpty,
            s"${q.name}: a hinted side lost its structural probe-batch bound " +
              s"(no GlobalLimit under the hint):\n${h.child.toString.take(1200)}")
        }
    }
  }

  test("weighted sample plans as TakeOrderedAndProject — no global sort of the corpus") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("hashpartitioning"),
      s"priority sampling must not shuffle the corpus:\n${p.take(1500)}")
  }

  test("anomaly z-score shares one user_id exchange between window and aggregate") {
    // The window (PARTITION BY user_id) and the groupBy(user_id) must ride
    // the same hashpartitioning — a second data exchange would double the
    // shuffle at 100 TB for no semantic gain.
    val p = plan("q_anomaly_zscore")
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(n <= 1, s"expected at most one user_id exchange, plan has $n:\n${p.take(2000)}")
  }

  test("heavy hitters shuffles bounded summaries, not the word stream") {
    // the Misra-Gries sketch exists to keep the exchange O(partitions × k):
    // exactly one data exchange (partial summaries → final merge); a second
    // would mean the exploded words themselves are being shuffled
    val p = plan("q_heavy_hitters")
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 2, s"expected partial-merge + presentation sort only, got $n:\n${p.take(1500)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "typed Aggregator should plan as object aggregate")
  }

  test("composed pipeline stays shuffle-bounded past its materialization barriers") {
    // stages 1-4 run exactly once behind the localCheckpoint barriers
    // (their own shapes are locked via the per-stage declared queries);
    // the composed tail — domain-mix branches, packing scan, shard window,
    // final join + presentation sort — must stay a handful of exchanges,
    // so a stage refactor cannot silently fan the corpus lineage back out
    val p = plan("q_pipeline_full")
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 8, s"q_pipeline_full tail plans $n exchanges (measured 5)")
    assert(!p.contains("CartesianProduct"))
  }

  test("composed retrieval tail stays candidate-bounded after the barrier") {
    // q_retrieval_full: the corpus is touched ONCE (the candidate stage,
    // behind the localCheckpoint barrier); everything in the visible tail
    // operates on <= CandK rows — a lineage regression would re-plan the
    // BM25 stage per branch and fan the corpus scan back out
    val p = plan("q_retrieval_full")
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 6, s"q_retrieval_full tail plans $n exchanges:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("batch retrieval tail is probe-count-independent after the barrier") {
    // q_retrieval_batch: the corpus is touched once by the shared tf
    // build behind the candidate checkpoint; the visible tail operates on
    // <= RbProbes·CandK rows and its EXCHANGE COUNT must not depend on
    // the probe-batch width (per-probe work rides the p_id key inside
    // shared exchanges — a per-probe re-plan would multiply this count)
    val p = plan("q_retrieval_batch")
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 6, s"q_retrieval_batch tail plans $n exchanges:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("PCA projection computes narrowly — only the presentation sort exchanges") {
    // both component scores fold against literal μ/v₁/v₂ arrays inside
    // the scan projection; a hashpartitioning exchange would mean the
    // dot products regressed to an explode+join (corpus-proportional
    // shuffle for a per-row score)
    val p = plan("q_pca_project")
    assert(!p.contains("hashpartitioning"),
      s"PCA projection shuffled the corpus:\n${p.take(1500)}")
  }

  test("embed drift: per-era projections never join pre-aggregate; exchanges are bucket-sized") {
    // the two era scans must be literal-array projections straight into
    // their histogram aggregates (partial count map-side) — every
    // exchange after that carries <= (EdBuckets + overflow) bucket rows,
    // so a bounded exchange count is the whole scale story. The only
    // nested-loop joins allowed are the TWO single-row era-total
    // attaches (the bounded-scalar crossJoin class).
    val p = plan("q_embed_drift")
    assert(!p.contains("CartesianProduct"),
      s"embed drift grew an unbounded join:\n${p.take(1500)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"embed drift grew $bnlj nested-loop joins:\n${p.take(2000)}")
    // 7 = two era-histogram aggregates, two single-row era totals, the
    // bucket-join sides, and the presentation sort — each moving
    // bucket-grid rows only
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 7, s"embed drift exchange count grew to $n:\n${p.take(2000)}")
  }

  test("drift alerts keep the embed-drift plan shape — the noise floor is one bounded filter") {
    // q_drift_alerts is q_embed_drift's report behind one filter on the
    // bounded bucket grid: the alert gate must not change the plan class
    // (same join-free era scans, same two single-row attaches, no extra
    // corpus-sized exchange)
    val p = plan("q_drift_alerts")
    assert(!p.contains("CartesianProduct"),
      s"drift alerts grew an unbounded join:\n${p.take(1500)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"drift alerts grew $bnlj nested-loop joins:\n${p.take(2000)}")
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 7, s"drift alerts exchange count grew to $n:\n${p.take(2000)}")
  }

  test("drift tombstones: the TTL scan is one broadcast semi-join — no corpus exchange added") {
    // q_drift_tombstones = the scored before era semi-joined against the
    // constant-bounded alert frame. The era side must reach the semi-join
    // as a narrow literal-array projection with NO exchange of its own
    // (the alert side broadcasts); everything else is the q_drift_alerts
    // plan class plus the one presentation sort.
    val p = plan("q_drift_tombstones")
    assert(!p.contains("CartesianProduct"),
      s"drift tombstones grew an unbounded join:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"the TTL scan lost its broadcast semi-join shape:\n${p.take(2000)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"drift tombstones grew $bnlj nested-loop joins:\n${p.take(2000)}")
    // the alert-report subtree's exchanges (bucket-sized, ≤7 as locked
    // above) + the presentation sort; the semi-join itself adds only a
    // broadcast exchange, which the regex excludes
    val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(n <= 8, s"drift tombstones exchange count grew to $n:\n${p.take(2000)}")
  }

  test("char entropy computes narrowly — only the presentation sort exchanges") {
    // the histogram + ln-fold must live inside the scan projection; a
    // hashpartitioning exchange would mean the per-row expression regressed
    // to an explode+groupBy (corpus-proportional shuffle for a per-row stat)
    val p = plan("q_char_entropy")
    assert(!p.contains("hashpartitioning"),
      s"char entropy shuffled the corpus:\n${p.take(1500)}")
  }

  test("JL projection computes narrowly — only the presentation sort exchanges") {
    // the 16 signed sums must stay inside the scan projection (the sign
    // matrix is literal state); any hashpartitioning means the fold
    // regressed to an explode+groupBy
    val p = plan("q_rand_proj")
    assert(!p.contains("hashpartitioning"),
      s"q_rand_proj should not hash-shuffle:\n${p.take(1500)}")
  }

  test("sketch builds shuffle O(groups × cells), never the key stream") {
    // HLL: partial max per (group, bucket) must combine map-side — the
    // exchange carries registers, not user ids. Zone maps: partial
    // min/max/count per block id. Both: ONE aggregate exchange + the
    // presentation sort.
    for (q <- Seq("q_hll_registers", "q_zonemap_prune")) {
      val p = plan(q)
      val n = "(?<!Reused)(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(n <= 2, s"$q plans $n exchanges (expected agg + sort):\n${p.take(1500)}")
      assert(p.contains("HashAggregate"), s"$q lost map-side partial aggregation")
    }
  }

  test("triangle count and tf-idf pairs key every join on ids/features") {
    // both ops exist to avoid materializing neighborhoods²/docs² — every
    // join must be a hash join on vertex ids / feature keys; a nested-loop
    // or cartesian fallback is the scale kill
    for (q <- Seq("q_triangle_count", "q_tfidf_cosine_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q lost its keyed joins")
    }
  }

  test("no declared query plans a cartesian product") {
    SparkEntry.all.foreach { q =>
      val p = q.build(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} went cartesian")
    }
  }

  test("no declared query uses a non-partitioned window") {
    // Window.orderBy with no partitionBy funnels every row through a single
    // task — the one plan shape that silently stops scaling (the round-1
    // q_simhash bug). Checked on the optimized logical plan so AQE wrapping
    // can't hide it.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    SparkEntry.all.foreach { q =>
      val bad = q.build(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"${q.name} has a global (non-partitioned) window")
    }
  }

  test("Segments/PostingLines frames keep every generated method JIT-compilable") {
    // inlined at every use, the Albers formula makes the merged frame's loop
    // a 47 KB method, which HotSpot never compiles (Segments.withProjected);
    // the vector plane's shared cosine and candidate joins and the text
    // plane's shared tokenizer folds, bigram frame and BM25 columns, the
    // near-dup plane's shared band, size-bound, agreement and verify rules,
    // the sketch plane's shared register, estimator and Count–Min cell
    // rules and the graph plane's shared degree, rank-round and orientation
    // rules are inlined the same way. q_ann_lsh_topk and q_ann_calibration
    // are left out: their LSH bucket stage is a 10,524 B method today
    // (ROADMAP item 4).
    import ops.{Corpus, Dedup, Graph, LM, PostingLines, Profile, Retrieval,
      Segments, Similarity, Sketches, Spatial, TextOps, Tokenize}
    val overLimit = Set("q_ann_lsh_topk", "q_ann_calibration")
    val textPlane = Set("q_bm25_topk", "q_bm25_pruned", "q_rrf_fusion",
      "q_retrieval_full", "q_retrieval_batch", "q_sessionize",
      "q_session_stats")
    val nearDupPlane = Set("q_dedup_components", "q_dedup_cluster_stats",
      "q_training_corpus")
    val frames =
      Seq(
        "mergedFrom(fromEvents)" -> PostingLines.mergedFrom(
          Segments.fromEvents(Tables.events(spark, sfDir))),
        "Segments.df" -> Segments.df(spark, sfDir)) ++
      (PostingLines.queries ++ Spatial.queries ++
        Similarity.queries.filterNot(q => overLimit(q.name)) ++
        Tokenize.queries ++ LM.queries ++
        (Retrieval.queries ++ TextOps.queries).filter(q => textPlane(q.name)) ++
        Dedup.queries ++ Corpus.queries.filter(q => nearDupPlane(q.name)) ++
        Sketches.queries ++ Profile.queries ++ Graph.queries ++
        TextOps.queries.filter(_.name == "q_cms_counts"))
        .map(q => q.name -> q.build(spark, sfDir))
    frames.foreach { case (name, df) =>
      val bytes = Diag.maxMethodBytes(df)
      assert(bytes > 0 && bytes <= Diag.HugeMethodLimit,
        s"$name: largest generated method $bytes B")
    }
  }
}
