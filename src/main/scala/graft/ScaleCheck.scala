package graft

/** Dev utility (not part of the library surface): measure per-query growth
  * of the heavy dedup/ANN/recall/analytics families across MULTIPLE scale
  * directories — the empirical check behind every "bounded at any corpus
  * size" claim.
  *
  * Usage: sbt 'runMain graft.ScaleCheck [smallDir] [bigDir:factor ...]'
  * Default: /root/testdata/sf0.1 vs tmp/sf1 (×10) and tmp/sf3 (×30, from
  * ScaleGen). Writes tools/scalecheck.json.
  *
  * Three points instead of two (VERDICT r7 ask #2): one ratio cannot
  * distinguish linear-with-overhead from quadratic; the growth EXPONENT
  * between the two largest points (log t2/t1 over log f2/f1) can — a
  * linear query holds exponent ≤ ~1, a quadratic one reads ~2 regardless
  * of constant factors.
  *
  * Iteration normalization (VERDICT r7 ask #4): the convergence loops
  * (PageRank/BFS/k-means/BPE/label-prop clustering) run a DATA-DEPENDENT
  * number of rounds, so their wall-clock ratio confounds "more rounds at
  * larger N" (fine) with "costlier rounds" (a regression). Each loop's
  * result plan carries a `<loop>_convergence` observation
  * ([[graft.ops.Loop.report]]) that rides the measured action. The
  * measured DataFrame's plan names the query's convergence observations,
  * a QueryExecutionListener captures their `iterations`, and the report
  * records iterations and the PER-ITERATION ratio next to the raw one. A
  * query whose plan holds no convergence observation (no loop, or a
  * component loop that took the driver path) records none.
  *
  * Protocol (the graft.Prof discipline): one warm-up pass per query at
  * sf0.001 to pay codegen/classload, then timed runs with the cache manager
  * cleared between runs — min-of-3 at EVERY point (min, not mean: ambient
  * load only ever ADDS time). Round 10 (VERDICT r9 ask #2) tightened the
  * big-scale protocol from min-of-2 to min-of-3, INTERLEAVED the reps
  * (within a point the full query list runs once, then again — so an
  * ambient-load episode lands on one rep of MANY queries instead of every
  * rep of one query, and the min dodges it), and records the per-point
  * rep SPREAD ((max−min)/min) next to each min, so a noisy exponent
  * reading is visibly noisy in the artifact itself. NonFatal failures
  * mark the query errored and continue; a fatal JVM error aborts the
  * whole run (later measurements in a heap-pressured JVM would skew
  * every ratio).
  */
object ScaleCheck {

  /** The queries whose scale story rests on a boundedness claim:
    * banding/blocking joins (never all-pairs), probe-bounded recall
    * truths, vocabCap dictionaries, order-keyed fan-outs, IVF probes,
    * fixed-size sketch states, convergence loops.
    */
  val Heavy: Seq[String] = Seq(
    // dedup family: banding, pigeonhole blocks, union-find/pointer-doubling
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_clusters", "q_dedup_keep",
    "q_dedup_incremental", "q_dedup_simhash", "q_simhash_pairs",
    "q_dedup_ngram_jaccard", "q_dedup_cosine", "q_dedup_cosine_clusters",
    "q_dedup_cosine_keep", "q_semdedup",
    // recall truths: probe-bounded exact sides
    "q_minhash_recall", "q_simhash_recall", "q_ann_recall", "q_ann_quant",
    "q_dedup_cosine_recall",
    // ANN family: bucket/cell equi-joins, persisted index probes
    "q_ann_lsh", "q_ann_multiprobe", "q_ann_ivf", "q_ann_persisted",
    "q_ann_incremental", "q_quantize",
    // curation + analytics tier: semi-join decontamination, order-keyed
    // fan-outs, broadcast histograms/bounds, sketches, convergence loops
    "q_decontaminate", "q_copurchase", "q_entity_match", "q_profile",
    "q_join_cardinality", "q_bigram_lm", "q_heavy_hitters",
    "q_sketch_distinct", "q_bloom_filter", "q_pagerank",
    // convergence loops: per-round work linear, round count data-dependent
    // (diameter / assignment stability); q_bpe's budget is fixed (10
    // merges), so its growth is the pair-count aggregate's
    "q_kmeans", "q_bfs", "q_bpe",
    // round-9 additions: the three-stage dedup compose (both candidate
    // kernels + two CC loops in one plan), the bucket-thresholded
    // mixture selection, and the perceptual-hash pigeonhole join
    "q_dedup_chain", "q_mix_sources", "q_phash_pairs",
    // round-10 additions: rolling-window substring dedup (corpus-token
    // explode + fingerprint groupBy) and the cross-corpus LM gate
    // (bigram joins against reference counts); q_semdedup is listed with
    // the dedup family above
    "q_dedup_substring", "q_perplexity_filter",
    // round-11 additions: span merge/strip over the corpus-token window
    // explode (fp-keyed joins + per-document interval windows) and the
    // classifier evaluators (distinct-score window; 10-bin calibration)
    "q_dedup_spans", "q_span_strip", "q_quality_auc",
    "q_quality_calibration", "q_zipf", "q_vocab_growth",
    // round-11 fourth pair: hash-boundary chunking (explode + per-doc
    // window + fp census) and the source×vocab KL matrix
    "q_chunk_cdc", "q_kl_sources",
    // round-11 fifth pair: the source-pair containment matrix (distinct
    // gram join, |S|² fan-out bound) and PQ's N·M·K assignment + Q·M·N
    // ADC pair stage
    "q_overlap_matrix", "q_ann_pq",
    // round-11 sixth: hybrid lexical+semantic retrieval, RRF-fused
    "q_hybrid_search",
    // round-11 seventh wave: distribution-shift statistics (value-grid
    // window / |S|×|L| cells), PMI marginal joins over the cached
    // (source, tok) frame, and the d²-bounded covariance explode
    "q_ks_test", "q_gtest_sources", "q_pmi_terms", "q_pca_power",
    "q_resample_target", "q_axis_histogram", "q_cell_purity",
    "q_bpe_heldout", "q_hard_negatives",
    // round-12 additions: BM25 postings join (broadcast constant query
    // set), the probe-bounded leave-one-out 1-NN eval, and asymmetric
    // containment over the banded candidate kernel
    "q_bm25", "q_knn_loo", "q_dedup_containment",
    // round-13 additions: the 4-pass fixed-point GD training loop
    // (bounded 1-row collects, cached feature projection), the
    // per-dimension moment aggregate (64-row exchange), and the two-pass
    // median/MAD outlier gate (exact per-group percentiles — the one
    // declared query whose exact evaluator is the documented non-scale
    // path, kept here to MEASURE that cost against the sketch swap)
    "q_logreg_train", "q_embed_stats", "q_outlier_mad",
    // round-13 second wave: the staged-write version diff (write v2 +
    // full-outer hash join), the mergeSchema two-generation read, and the
    // one-pass 64-sum bootstrap aggregate
    "q_dataset_diff", "q_schema_merge", "q_bootstrap_ci", "q_phrase_search",
    // round-14 addition: MMR diverse re-ranking — exact top-20 probe side
    // is the O(Q·N) constant-Q kernel; the unrolled greedy runs on Q·K²
    // cached rows
    "q_mmr",
    // round-16 additions (VERDICT r15 ask #3): the banded-recall truth for
    // the n-gram family (its probe-bounded siblings q_minhash_recall /
    // q_simhash_recall / q_ann_recall were all listed; this one — the
    // third-most-expensive bench query — was simply never folded in), the
    // end-to-end curation compose, the retraction-channel MV merge, and
    // the edge-oriented triangle enumeration.
    // Deliberately NOT listed: q_zorder / q_hilbert (one narrow
    // hash+interleave projection pass plus a 64/4096-file footer-stats
    // aggregate — pure scan-shape linear with bounded output, the same
    // kernel family a dozen listed queries already measure) and
    // q_pagerank_step (a single iteration of q_pagerank's measured loop;
    // its per-round cost is exactly what q_pagerank's per_iter_ratio
    // records — listing it would double-count the same kernel).
    "q_dedup_ngram_recall", "q_curation_pipeline", "q_mv_refresh_cdc",
    "q_triangles")

  /** query → DECLARED growth model, recorded next to the measured exponent
    * so a reading is judged against the design instead of against a blanket
    * "linear or bust". The IVF family is the honest super-linear case: with
    * the textbook nlist = √N sizing, the index-BUILD stage (every vector ×
    * every centroid, map-side over the broadcast centroid array) is
    * Θ(N^1.5) compute by construction — embarrassingly parallel, zero
    * shuffle, amortized once per index in production (q_ann_incremental is
    * the serve shape: increments probe the persisted lists without ever
    * re-assigning the corpus) — while the probe side is Θ(Q·√N). A
    * measured exponent at or below the model's is the design working;
    * only an exponent ABOVE its model is a defect.
    *
    * Build-once caveat (ADVICE r14): queries whose index/axis is staged
    * through `Sinks.buildOnceDir` / the memoized `principalAxis` pay that
    * build on the FIRST rep per scale point only — the min-of-3 this tool
    * records is the STEADY-STATE (build-free) execution, so their models
    * below describe the steady-state cost, not the amortized build. The
    * build's own growth is still visible in the artifact: rep 1 carries it,
    * so it shows up as the per-point SPREAD, and the build kernels
    * (N·√N IVF assignment, GramMoments scan, postings write) are measured
    * directly by their non-persisted siblings (q_ann_ivf, q_pca_power's
    * first-rep spread, q_bm25's postings groupBys).
    */
  val Model: Map[String, String] = Map(
    "q_ann_ivf" -> "1.5: N*sqrt(N) ivf build (map-side broadcast assignment, amortized per index)",
    "q_ann_persisted" -> "1.0: build-once parquet index (first rep per point pays the N^1.5 build); the measured min is the probe, Q*sqrt(N) with constant Q",
    "q_ann_recall" -> "1.5: embeds the ivf build; exact-truth side is Q*N with constant Q",
    "q_ann_incremental" -> "1.0: build-once corpus index (first rep per point); the measured min is the increment's assign + persisted-list probe, batch*sqrt(N)",
    "q_dedup_incremental" -> "1.0: build-once minhash signature index (first rep per point); the measured min is the increment's banded probe against the persisted bands",
    "q_phrase_search" -> "1.0: build-once postings index (first rep per point pays the narrow write); the measured min co-shuffles both adjacency sides on doc_id once (positions doc-local, no token hot-spot)",
    "q_kmeans" -> "1.0 per iteration: assignment is N*K with fixed K",
    "q_dedup_ngram_jaccard" -> "1.0: adaptive bands*rows (rows += 1 per decade past 1e4 docs, bands resized to hold recall at the 6x3 design point) pins the random-collision floor E[J^rows]*N^2 subquadratic",
    "q_dedup_cosine" -> "1.0: candidates O(N*bits^2) at occupancy <= 0.5 (2^bits >= 2N)",
    "q_semdedup" -> "1.5: sqrt(N) ivf build + within-cell exact pairs sum(|cell|^2) at cell size sqrt(N)",
    "q_dedup_substring" -> "1.0: one row per corpus token position, hash groupBy on the span fingerprint",
    "q_perplexity_filter" -> "1.0: one pass over corpus bigrams, 1:1 equi-joins against reference counts",
    "q_copurchase" -> "1.0: pairs bounded by C(items/order,2) per order",
    "q_chunk_cdc" -> "1.0: one row per corpus token, per-document window, fp-keyed census groupBy",
    "q_kl_sources" -> "1.0: wordcount groupBys + |S|*V matrix with constant |S|",
    "q_overlap_matrix" -> "1.0: distinct-gram join fans out to <= C(|S|,2) pairs per gram, constant |S|",
    "q_ann_pq" -> "1.0: N*M*K broadcast assignment + Q*M*N ADC rows, constant Q=20 M=8 K=16",
    "q_hybrid_search" -> "1.0: both exact sides are Q*N with constant Q=5; fusion is top-20 frames",
    "q_ks_test" -> "1.0: one map-combined groupBy(source, n_chars); grid/window/argmax run on |S|*V rows with V bounded by the value domain",
    "q_gtest_sources" -> "1.0: one map-combined groupBy to |S|*|L| cells, broadcast marginals",
    "q_pmi_terms" -> "1.0: one tokenize + cached (source,tok) groupBy; marginals and top-k window are |S|*V-bounded",
    "q_pca_power" -> "1.0: the GramMoments scan (fixed 2145-cell buffer per task) is memoized per input dir — the first rep per point pays it, the measured min is the d^2-bounded post-axis derivation, N-independent",
    "q_resample_target" -> "1.0: two corpus scans (histogram groupBy, broadcast-rate filter + groupBy), zero windows",
    "q_axis_histogram" -> "1.0: axis memoized per input dir (first rep per point pays the GramMoments scan); the measured min is one zip_with projection pass, 1-row bounds broadcast, <= 16-group aggregate",
    "q_cell_purity" -> "1.5: the N*sqrt(N) ivf assignment (map-side broadcast); everything after is cells*|labels| rows",
    "q_bpe_heldout" -> "1.0 per round like q_bpe: fixed 10-merge budget, per-round pair aggregate over the train split + one narrow replace",
    "q_hard_negatives" -> "1.0: the adaptive-banded candidate kernel (never all-pairs) + band-bounded pair-frame joins and windows",
    "q_bm25" -> "1.0: tf/len/df are map-combined groupBys; the postings join is Q-constant broadcast x tf rows; ranks window over Q partitions",
    "q_knn_loo" -> "1.0: exact side is Q*N with constant Q=50 (the recall-family probe discipline)",
    "q_dedup_containment" -> "1.0: same banded candidate kernel as q_dedup_ngram_jaccard; the containment projection adds no stage",
    "q_logreg_train" -> "1.0: four full-batch passes (fixed E=3+eval) over the cached 9-long feature projection, each a 19-sum map-combined 1-row aggregate",
    "q_embed_stats" -> "1.0: one posexplode pass, 64-group map-combined aggregate — the exchange is 64 rows at any N",
    "q_outlier_mad" -> "1.0: three scans (two exact per-group percentiles + the flag aggregate); exact percentile holds a group's values on one task — the documented non-scale path the sketch swap replaces at 100 TB",
    "q_dataset_diff" -> "1.0: v2 write is one narrow pass; the diff is one doc_id-hash full-outer join of two 3-column projections",
    "q_schema_merge" -> "1.0: two narrow writes + the mergeSchema union read + one map-combined groupBy over |event_type| groups",
    "q_bootstrap_ci" -> "1.0: one corpus pass with 64 conditional sums (map-side combined), |S|-group exchange; stack/percentile run on 32*|S| cells",
    "q_mmr" -> "1.0: exact top-20 probe is O(Q*N) with constant Q=3 (broadcast queries, streamed candidates); all five greedy steps run on Q*K^2 <= 1140 cached rows",
    "q_bpe" -> "1.0 per round: fixed 10-merge budget; each round is one map-combined pair-count aggregate over the corpus — the irreducible linear term (the x100 constant IS that aggregate times 10 rounds; VERDICT r15 ask #5 model note)",
    "q_phash_pairs" -> "1.0: the 64-bit frame-hash kernel is an embarrassingly parallel scan stage (zero shuffle growth at any N); the pigeonhole candidate join is band-bounded — linear constant accepted (VERDICT r15)",
    "q_dedup_ngram_recall" -> "1.0: truth side is the probe-bounded inverted-index join (O(probe x gram-sharing), constant probe prefix); found/candidates ride the same adaptive-banded kernel as q_dedup_ngram_jaccard",
    "q_curation_pipeline" -> "1.0: gates fuse into one scan-side filter; the only shuffles are the dedup window (key k) and the packing window (source), both unbounded-cardinality partition keys",
    "q_mv_refresh_cdc" -> "1.0: one union + re-aggregate of base+delta retraction partials, O(base+delta) never O(history)",
    "q_triangles" -> "1.0: constant 60-node key space caps edges at C(60,2) regardless of N — growth is the scan + edge-distinct groupBy only; the two enumeration joins run on the bounded edge set")

  def main(args: Array[String]): Unit = {
    val small = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val points: Seq[(String, Double)] =
      if (args.length > 1) args.drop(1).toSeq.map { a =>
        val Array(d, f) = a.split(":")
        (d, f.toDouble)
      }
      else Seq("tmp/sf1" -> 10.0, "tmp/sf3" -> 30.0)
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val spark = Session()

    // Convergence-loop iteration capture: the listener fires async on the
    // shared bus after each action; readIters polls briefly for the
    // observations the measured plan declared.
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.endsWith("_convergence"))
              seen.put(name, row.getAs[Long]("iterations"))
          }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    // a query with several loops (q_dedup_chain) reports its longest
    def readIters(names: Seq[String]): Option[Long] = {
      var waited = 0
      while (!names.forall(seen.containsKey) && waited < 2000) {
        Thread.sleep(50); waited += 50
      }
      names.flatMap(n => Option(seen.remove(n))).maxOption
    }

    // same watchdog as Verify/Bench: at the ×30 point a pathological plan
    // could hang for hours — that must become a recorded failure for ONE
    // query, not a stalled report
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "1800").toLong
    // → (seconds, the measured plan's convergence observation names)
    def once(name: String, dir: String): (Double, Seq[String]) = {
      val t0 = System.nanoTime()
      val r = Watchdog.run(spark, s"$name@$dir", timeoutSec) {
        val df = SparkEntry.queries(name)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        df.queryExecution.logical.collect {
          case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
              if c.name.endsWith("_convergence") => c.name
        }
      }
      val t = (System.nanoTime() - t0) / 1e9
      Session.release(spark)
      r match {
        case Right(loops) => (t, loops)
        case Left(msg) => throw new RuntimeException(s"$name@$dir: $msg")
      }
    }
    val Reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    // SPARK_GRAFT_SCALE_QUERIES: comma list restricting the run — for
    // adding scale evidence for NEW operators without re-paying the full
    // ~105-min 4-point sweep (merge the focused artifact by hand)
    val heavy: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Heavy)
    heavy.foreach(n => require(Heavy.contains(n), s"not in Heavy: $n"))
    val dirs: Seq[(String, Double)] = (small, 1.0) +: points
    val failed = scala.collection.mutable.Set[String]()
    // (query, pointIdx) -> rep times / first-rep iteration count
    val raw = scala.collection.mutable.Map[(String, Int),
      scala.collection.mutable.ListBuffer[Double]]()
    val itersAt = scala.collection.mutable.Map[(String, Int), Option[Long]]()

    // warm-up pass: codegen/classload paid once per query, results discarded
    heavy.foreach { name =>
      try once(name, warm)
      catch {
        // NonFatal only: an OutOfMemoryError (or any fatal JVM error)
        // must abort the run — every later measurement in a
        // heap-pressured JVM would skew the very ratios this report
        // exists to pin down
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[scalecheck] $name FAILED (warm-up): " +
            s"${e.getMessage}")
          failed += name
      }
    }
    // interleaved measurement: per point, the whole query list runs Reps
    // times round-robin — consecutive reps of one query never share one
    // ambient-load episode
    for ((pointIdx, (dir, _)) <- dirs.indices.zip(dirs); rep <- 1 to Reps) {
      for (name <- heavy if !failed(name)) {
        seen.clear()
        try {
          val (t, loops) = once(name, dir)
          raw.getOrElseUpdate((name, pointIdx),
            scala.collection.mutable.ListBuffer[Double]()) += t
          if (rep == 1) itersAt((name, pointIdx)) = readIters(loops)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scalecheck] $name FAILED @$dir: " +
              s"${e.getMessage}")
            failed += name
        }
      }
      System.err.println(s"[scalecheck] pass $rep/$Reps @$dir done")
    }

    // per query: times = per-point min, spreads = per-point (max-min)/min
    val results: Seq[(String, Seq[Double], Seq[Double], Seq[Option[Long]])] =
      heavy.map { name =>
        val perPoint = dirs.indices.map(pi => raw.get((name, pi)))
        if (failed(name) || perPoint.exists(_.isEmpty))
          (name, Seq.empty[Double], Seq.empty[Double],
            Seq.empty[Option[Long]])
        else {
          val times = perPoint.map(_.get.min)
          val spreads = perPoint.map { r =>
            val (mn, mx) = (r.get.min, r.get.max)
            if (mn > 0) (mx - mn) / mn else 0.0
          }
          val iters = dirs.indices.map(pi =>
            itersAt.getOrElse((name, pi), None))
          val line = times.map(t => f"$t%7.2fs").mkString(" → ")
          val itLine = if (iters.flatten.nonEmpty)
            " iters " + iters.map(_.map(_.toString).getOrElse("-"))
              .mkString("→") else ""
          System.err.println(f"[scalecheck] $name%-24s $line ratio=" +
            f"${times.last / times.head}%5.2f spread=" +
            spreads.map(s => f"$s%.2f").mkString("/") + itLine)
          (name, times, spreads, iters)
        }
      }

    val factors = 1.0 +: points.map(_._2)
    def f(d: Double) = f"$d%.3f"
    def finalExponent(times: Seq[Double]): Double =
      if (times.size >= 3)
        math.log(times.last / times(times.size - 2)) /
          math.log(factors.last / factors(factors.size - 2))
      else math.log(times.last / times.head) / math.log(factors.last)
    /** Declared growth-model exponent: the leading number of the Model
      * string; 1.0 (linear) for undeclared queries.
      */
    def modelExp(n: String): Double =
      Model.get(n).flatMap(_.split(":").headOption)
        .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
        .getOrElse(1.0)

    // ── exponent noise band (VERDICT r12 ask #6): a final-segment exponent
    //    past its model by >0.1 has so far been adjudicated as end-point
    //    noise BY HAND each round (q_bpe 1.17↔1.00, q_entity_match 1.11 vs
    //    0.63). Mechanize it: every such query gets ONE more min-of-Reps
    //    interleaved measurement of BOTH final points in the same JVM, and
    //    the artifact records both readings as `exponent_band` — a real
    //    superlinear regression reads high TWICE (the band floor stays
    //    above the model), where an ambient-load flip collapses on the
    //    re-run. check.py --scale flags only band floors above model+0.1. ──
    val overModel = results.collect {
      case (n, times, _, _)
          if times.nonEmpty && finalExponent(times) > modelExp(n) + 0.1 => n
    }
    val rerunTimes = scala.collection.mutable.Map[(String, Int),
      scala.collection.mutable.ListBuffer[Double]]()
    if (overModel.nonEmpty) {
      System.err.println(s"[scalecheck] exponent-band re-run " +
        s"(${overModel.size}): ${overModel.mkString(", ")}")
      val lastTwo = Seq(dirs.size - 2, dirs.size - 1)
      for (pi <- lastTwo; rep <- 1 to Reps; name <- overModel) {
        try {
          val (t, _) = once(name, dirs(pi)._1)
          rerunTimes.getOrElseUpdate((name, pi),
            scala.collection.mutable.ListBuffer[Double]()) += t
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scalecheck] $name re-run FAILED " +
              s"@${dirs(pi)._1}: ${e.getMessage}")
        }
      }
    }
    val rerunExp: Map[String, Double] = overModel.flatMap { n =>
      (rerunTimes.get((n, dirs.size - 2)), rerunTimes.get((n, dirs.size - 1))) match {
        case (Some(t1), Some(t2)) if t1.nonEmpty && t2.nonEmpty =>
          Some(n -> math.log(t2.min / t1.min) /
            math.log(factors.last / factors(factors.size - 2)))
        case _ => None
      }
    }.toMap

    val qjson = results.map { case (n, times, spreads, iters) =>
      if (times.isEmpty) s""""$n":{"error":true}"""
      else {
        val ratio = times.last / times.head
        // growth exponent between the two LARGEST points: slope of
        // log-time over log-factor — ≤ ~1 is linear, ~2 is quadratic
        val expo = finalExponent(times)
        val itArr = iters.map(_.map(_.toString).getOrElse("null"))
          .mkString("[", ",", "]")
        // per-iteration ratio for the convergence loops: total ratio
        // deflated by the iteration-count growth, so "more rounds at
        // larger N" cannot masquerade as costlier rounds (or vice versa)
        val perIter = (iters.head, iters.last) match {
          case (Some(i0), Some(i1)) if i0 > 0 && i1 > 0 =>
            f(ratio / (i1.toDouble / i0))
          case _ => "null"
        }
        val model = Model.get(n)
          .map(m => s""","model":${ToolPaths.jsonString(m)}""").getOrElse("")
        val band = rerunExp.get(n).map { e2 =>
          s""","exponent_rerun":${f(e2)},"exponent_band":[""" +
            s"${f(math.min(expo, e2))},${f(math.max(expo, e2))}]"
        }.getOrElse("")
        s""""$n":{"times":${times.map(f).mkString("[", ",", "]")},""" +
          s""""spread":${spreads.map(f).mkString("[", ",", "]")},""" +
          s""""ratio":${f(ratio)},"exponent":${f(expo)},""" +
          s""""iters":$itArr,"per_iter_ratio":$perIter$model$band}"""
      }
    }.mkString("{", ",", "}")
    val errs = results.collect {
      case (n, t, _, _) if t.isEmpty => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val ok = results.filter(_._2.nonEmpty)
    val sums = factors.indices.map(i => ok.map(_._2(i)).sum)
    val pjson = (("dir" -> small) +: points.map(p => "dir" -> p._1))
      .zip(factors).zip(sums)
      .map { case (((_, d), fac), s) =>
        s"""{"dir":"$d","factor":$fac,"sum":${f(s)}}""" }
      .mkString("[", ",", "]")
    val record =
      s"""{"points":$pjson,"ratio_total":${f(sums.last / sums.head)},""" +
        s""""errors":$errs,"queries":$qjson}"""
    // SPARK_GRAFT_SCALE_OUT: replicate runs write beside the primary
    // artifact (the two-same-code-runs discipline of rounds 10/11).
    // A FOCUSED run (SPARK_GRAFT_SCALE_QUERIES set) must never clobber
    // the full-sweep primary with a subset record — its default output
    // is a separate file.
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_SCALE_QUERIES"))
        "tools/scalecheck_focused.json"
      else "tools/scalecheck.json"
    ToolPaths.publish("scalecheck",
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", defaultOut), record)
    spark.stop()
  }
}
