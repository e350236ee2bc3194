package graft

/** Global O(N²)-guard: no declared batch query may plan a
  * BroadcastNestedLoopJoin or CartesianProduct unless it is on the explicit
  * whitelist of deliberately-bounded cases below. This is the spec form of
  * the survey's scale claim ("never an all-pairs join anywhere") — a
  * refactor that turns an equi-join into a nested loop (a dropped join key,
  * a non-equi condition slipping in) fails here, not in a 100 TB run.
  *
  * The whitelist is asserted in BOTH directions: a whitelisted query that
  * stops planning a nested loop is flagged too, so stale entries cannot
  * linger and silently widen the allowance.
  *
  * Inspection uses the INITIAL physical plan — the inspected frames are
  * never executed, so AQE's QueryStageExec leaf-wrapping never hides a
  * subtree (see BucketingSpec for the executed-plan traversal problem).
  * (A few builders run bounded dictionary/statistic collects and staging
  * writes at CONSTRUCTION time — SetSimilarity's vocab, the simhash-recall
  * dictionary, the Sinks staging dirs — so the sweep is not free, and the
  * cache it leaves behind is cleared at the end.)
  */
class NoCrossJoinSpec extends SparkTestBase {

  /** Queries whose nested-loop/cartesian is deliberate AND bounded:
    * every entry either broadcasts a provably constant-size side or joins
    * single-row aggregate frames.
    */
  private val bounded: Set[String] = Set(
    "q_cross_join", // the declared CROSS JOIN parity op itself
    // single-row aggregate frames joined back (global statistic → filter):
    "q_fresh_station", "q_fresh_keep_null", // data-derived max(ts)−7d cutoff
    "q_tfidf", // corpus document count N
    "q_heavy_hitters", // corpus token count N (CMS error bound ε·N)
    "q_pagerank_step", // node count N (uniform-rank denominator)
    "q_bigram_lm", // vocabulary size V (add-one smoothing denominator)
    "q_perplexity_filter", // the same one-row V frame (cross-corpus gate)
    "q_range_partition", // 7-element boundary array from the sample
    "q_mv_refresh", // data-derived 90-day cutoff (base/delta split point)
    "q_mv_refresh_cdc", // same cutoff broadcast on base/insert/retract channels
    "q_bpe_step", // one-row top-pair × vocab × token-count frames
    "q_drift", // corpus token count M (global-distribution denominator)
    "q_rfm", // one-row percentile-bounds frames (median split points)
    "q_join_cardinality", // one-row exact-count × estimate frames
    "q_bloom_filter", // one-row broadcast bit-set frame probed per key
    "q_length_outliers", // corpus-wide exact p95 threshold
    "q_quality_calibration", // one-row (min,max) score-extremes frame
    "q_zipf", // one-row corpus-total frame joined to the 50-row head
    "q_vocab_growth", // one-row (min,max) doc_id-extremes frame, twice
    "q_kl_sources", // |sources|-row broadcast stats frame × vocab (the
    // smoothed-KL matrix needs a term per (source, word)) + one-row (N,V)
    "q_ks_test", // |sources|-row totals frame × the distinct-value grid
    // (every source's ECDF needs every grid value) + one-row n_all frame
    "q_gtest_sources", // one-row grand-total frame joined to |S|·|L| cells
    "q_pmi_terms", // one-row corpus-token-total frame joined to the
    // support-filtered (source, tok) rows
    "q_resample_target", // one-row (N, B) frame → per-bucket keep rates;
    // one-row kept-total frame → share_after denominators
    "q_axis_histogram", // one-row (min, max, count) projection-bounds frame
    "q_cell_purity", // the broadcast collect_list centroid frame (the
    // q_ann_ivf assignment discipline — √N rows, the declared 1.5 family)
    "q_overlap_matrix", // |S|×|S| completion frame (both sides the tiny
    // per-source gram-count aggregate) so zero-overlap pairs stay in
    "q_ann_pq", // the exact-truth baseline's Q=20 broadcast frame (the
    // q_ann_recall discipline) + one-row n_expected count frame
    "q_hybrid_search", // the semantic side's Q=5 broadcast query frame
    // (q_cosine_topk discipline) + the one-row corpus-count idf frame
    // (q_mix_sources left this list in round 17: its one-row
    // budget/weight-sum cross joins now run at CONSTRUCTION time inside
    // the eager tgt/info checkpoints — the q_mmr situation — so the
    // declared plan sweep sees no nested loop)
    "q_minhash_recall", // n_cand/n_truth/n_hits one-row count frames
    "q_dedup_ngram_recall", // n_truth/n_found one-row count frames +
    // the ProbeDocs-bounded inverted-index truth kernel
    "q_simhash_recall", // count frames + the PROBE-bounded truth kernel
    // (broadcast side = ProbeDocs=200 dense vectors — constant at any SF)
    // constant-size literal dims (the two reference cities):
    "q_haversine", "q_haversine_filter",
    // (q_flagship left this list: its freshness cutoff is a scalar
    // subquery, not a one-row frame cross-joined into the plan)
    // broadcast CONSTANT-size query/centroid side, streamed candidates —
    // O(Q·N)/O(N·nlist) by construction, never O(N²) (since round 6 the
    // recall queries' exact-truth sides use the fixed vec_id<20 sample too):
    "q_cosine_topk", "q_ann_recall", "q_ann_quant", "q_ann_ivf",
    "q_dedup_cosine_recall", // vec_id<20 probe truth kernel + count frames
    "q_ann_persisted", // same broadcast-centroid assignment as q_ann_ivf
    "q_semdedup", // same broadcast-centroid assignment (cell quantizer)
    "q_ann_incremental", // broadcast-centroid assignment of the increment
    "q_kmeans_step", // same broadcast-centroid assignment (Lloyd refine)
    "q_zorder", // one-row skipping-count frames cross-joined at the end
    "q_triangles", // two one-row count frames cross-joined at the end
    "q_bm25", // one-row corpus-total frames (sl, nd) cross-joined into the
    // scoring projection (the avgdl substitution's exact denominators)
    "q_knn_loo" // broadcast CONSTANT Q=50 probe frame, streamed candidates
    // (the q_cosine_topk discipline — O(Q·N), never O(N²))
    // (q_mmr's broadcast Q=3 probe BNLJ runs at CONSTRUCTION time — its
    // declared frame is the greedy walk's local result table, so the plan
    // sweep sees no nested loop)
    // (q_dedup_ngram_jaccard left this list in round 8: the banded
    // MinHash rebuild replaced the bitmask all-pairs stage with pure
    // equi-joins — no nested loop remains anywhere in its plan)
  )

  test("no declared batch query plans an unlisted nested-loop or cartesian join") {
    val offenders = SparkEntry.registry
      .filterNot(_.name.startsWith("q_stream_")) // memory-sink scans; running
      // them here would re-execute every micro-batch pipeline for no signal
      .flatMap { q =>
        val plan = q.run(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val hasNL = plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("CartesianProduct")
        if (hasNL && !bounded(q.name)) Some(s"${q.name}: unlisted nested loop")
        else if (!hasNL && bounded(q.name)) Some(s"${q.name}: stale whitelist entry")
        else None
      }
    spark.sharedState.cacheManager.clearCache() // builder-time cache residue
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
