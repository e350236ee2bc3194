package graft

import org.apache.spark.sql.functions._

/** Invariant checks for the training-data extension operators (the DuckDB
  * oracle checks exact values; these pin structural properties).
  */
class ExtensionsSpec extends SparkTestBase {

  def run(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("q_dedup_exact: survivor counts sum to table size") {
    val df = run("q_dedup_exact")
    val total = df.agg(sum("n_dupes")).head.getLong(0)
    val docs = graft.model.Tables.documents(spark, sfDir).count()
    assert(total == docs)
    // survivors are the min doc_id of each group → all distinct
    assert(df.select("doc_id").distinct().count() == df.count())
  }

  test("q_cosine_topk: ranks are 1..3 per query, sims in [-1, 1]") {
    val rows = run("q_cosine_topk").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L)))
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  // Exact top-1 per ANN query vector (vec_id % 25 = 0), computed inline:
  // q_cosine_topk's declared query set is a fixed prefix (vec_id < 20) and
  // no longer aligns with the ANN queries' set, so the recall tests build
  // their own brute-force baseline. Cross join is fine at test scale.
  private lazy val bruteTop1: Map[Long, (Long, Double)] = {
    val n = graft.model.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val q = n.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = n.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    q.crossJoin(c).filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        graft.ops.Exprs.cosineSim(col("qe"), col("ce")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
  }

  test("q_ann_lsh: bucketed top-k sims never beat brute-force rank-1") {
    val lsh = run("q_ann_lsh").filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (q, s) => s <= bruteTop1(q)._2 + 1e-12 })
  }

  test("q_simhash_pairs: hamming bounds and symmetry of the key order") {
    val rows = run("q_simhash_pairs").collect()
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 8))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("q_dedup_ngram_jaccard: jaccard in (0, 1]") {
    val rows = run("q_dedup_ngram_jaccard").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) > 0 && r.getDouble(2) <= 1.0))
  }

  test("q_multimodal_meta: content hash is the md5 of the text bytes") {
    val one = run("q_multimodal_meta").limit(1).collect().head
    val text = graft.model.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === one.getLong(0)).head.getAs[String]("text")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(one.getString(2) == expect)
    assert(one.getLong(1) == text.getBytes("UTF-8").length.toLong)
  }

  test("q_fingerprint: values within modulus, deterministic across runs") {
    val a = run("q_fingerprint").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = run("q_fingerprint").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
    assert(a.forall { case (_, fp) => fp >= 0 && fp < 1000003 })
  }

  test("q_ann_ivf: three ranked non-self candidates per query vector") {
    val rows = run("q_ann_ivf").collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keys.forall(_ % 25 == 0))
    assert(byQ.values.forall(g => g.map(_.getLong(1)).sorted.sameElements(Seq(1L, 2L, 3L))))
    assert(rows.forall(r => r.getLong(2) != r.getLong(0)))
  }

  test("q_ann_ivf recall vs brute force: top-1 found for most queries") {
    val exact = bruteTop1.map { case (q, (cid, _)) => (q, cid) }
    val approx = run("q_ann_ivf").collect()
      .groupBy(_.getLong(0)).map { case (q, g) => q -> g.map(_.getLong(2)).toSet }
    val hits = exact.count { case (q, top1) => approx.get(q).exists(_.contains(top1)) }
    // The testdata embeddings are RANDOM (no cluster structure), so the
    // information-free baseline is the scan fraction nprobe/nlist = 4/16 =
    // 25%. Assert the index beats that baseline — on clustered real data
    // recall would be far higher.
    assert(hits.toDouble / exact.size >= 0.3, s"recall@top1 = $hits/${exact.size}")
  }

  test("SetSimilarity bitset plan == naive inverted-index plan (both cap paths)") {
    import graft.ops.{Exprs, SetSimilarity}
    val e = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(Exprs.wordShingles(split(col("text"), " "), 2))).as("g"))
    val naive = SetSimilarity.naiveJaccardPairs(e, "doc_id", "g", 0.28)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // default cap: vocabulary fits, pure-bitset path
    val fitted = SetSimilarity.jaccardPairs(e, "doc_id", "g", 0.28)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // tiny cap: forces the overflow branch (rare-tail inverted-index merge)
    val overflowed = SetSimilarity.jaccardPairs(e, "doc_id", "g", 0.28, vocabCap = 64)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // cap NOT a multiple of 64: the tail bits need their own mask word
    val oddCap = SetSimilarity.jaccardPairs(e, "doc_id", "g", 0.28, vocabCap = 100)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(naive.nonEmpty)
    assert(fitted.sameElements(naive))
    assert(overflowed.sameElements(naive))
    assert(oddCap.sameElements(naive))
  }

  test("HammingJoin blocked pairs == naive all-pairs compare") {
    import graft.ops.HammingJoin
    // Signatures with planted near-duplicates: base patterns plus 0-10
    // flipped bits, and unrelated random-ish values.
    val sigs = (0L until 64L).map { i =>
      val base = if (i % 2 == 0) 0x0F0F0F0F0F0F0FL else 0x123456789ABCDL
      val flips = (0 until (i % 11).toInt)
        .map(k => 1L << ((i * 7 + k * 5) % 60)).foldLeft(0L)(_ ^ _)
      (i, (base ^ flips) & ((1L << 60) - 1))
    }
    import spark.implicits._
    val df = sigs.toDF("doc_id", "simhash")
    val naive = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(expr("a.simhash ^ b.simhash")).cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every combo width must produce the identical exact result: k = 1 is
    // the classic one-block multi-index, k >= 2 packs k block values into
    // one wider key (the at-scale configuration adaptiveRequiredMatches
    // selects for large corpora)
    for (k <- 1 to 3) {
      val blocked = HammingJoin.pairsWithin(df, "doc_id", "simhash", 60, 8,
          requiredMatches = k)
        .orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(naive.nonEmpty)
      assert(blocked.sameElements(naive), s"requiredMatches=$k")
    }
  }

  test("SetSimilarity banded pairs == exact all-pairs on this corpus") {
    import graft.ops.{Exprs, SetSimilarity}
    // q_dedup_ngram_jaccard's at-scale shape: MinHash-banded candidates +
    // exact verification. Recall is the banding catch rate — asserted
    // LOSSLESS on the testdata (its true near-dup band starts at J ≈ 0.82,
    // where the 6×3 bands catch at P ≥ 0.992): the banded result must be
    // the exact kernel's result, pair for pair, jacc for jacc.
    val e = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(Exprs.wordShingles(split(col("text"), " "), 2))).as("g"))
    val exact = SetSimilarity.naiveJaccardPairs(e, "doc_id", "g", 0.28)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val banded = SetSimilarity.bandedJaccardPairs(e, "doc_id", "g", 0.28)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exact.nonEmpty)
    assert(banded.sameElements(exact))
  }

  test("ConnectedComponents: distributed loop == driver union-find") {
    import spark.implicits._
    // chains, a clique, singleton-free random edges
    val edges = (
      (0L until 30L).sliding(2).map(w => (w(0), w(1))).toSeq ++ // 30-chain
      Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++          // triangle
      Seq((200L, 300L), (300L, 400L), (400L, 500L), (500L, 200L)) ++ // cycle
      Seq((7L, 400L))                                            // bridge
    ).toDF("a", "b")
    val driver = graft.ops.ConnectedComponents.components(edges, "cc_spec")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val distDf = graft.ops.ConnectedComponents
      .components(edges, "cc_spec", driverEdgeLimit = 0)
      .orderBy("node")
    val dist = distDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(driver.nonEmpty)
    assert(dist.sameElements(driver))
    // the 30-chain + bridge folds the cycle into component 0
    val m = driver.toMap
    assert(m(500L) == 0L && m(102L) == 100L)
    // convergence is read from the plan's own CollectMetrics observation —
    // data, not stderr silence: the loop must have CONVERGED (a final round
    // that changed nothing), in more than zero rounds, within the default
    // iteration budget
    val obs = distDf.queryExecution.observedMetrics("cc_spec_convergence")
    assert(obs.getAs[Long]("converged") == 1L,
      s"distributed CC did not converge: $obs")
    assert(obs.getAs[Long]("final_change") == 0L)
    assert(obs.getAs[Long]("iterations") > 0L &&
      obs.getAs[Long]("iterations") < 20L)
  }

  test("DotProduct matches HOF semantics on ragged and null-bearing arrays") {
    import spark.implicits._
    import graft.ops.Exprs
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),      // equal → 11.0
      (Seq[java.lang.Double](1.0, 2.0, 5.0), Seq[java.lang.Double](3.0, 4.0)), // ragged → NULL
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),     // null slot → NULL
      (null, Seq[java.lang.Double](3.0, 4.0))                                  // null array → NULL
    ).toDF("a", "b")
    val rows = df.select(
      Exprs.dotProduct(col("a"), col("b")).as("cg"),
      Exprs.hofDotProduct(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(rows.count(_.isNullAt(0)) == 3)
  }

  test("DotProduct codegen expression is bit-equal to the HOF fold") {
    import graft.ops.Exprs
    val vecs = graft.model.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("e"))
    val diffs = vecs
      .select((Exprs.dotProduct(col("e"), col("e")) -
        Exprs.hofDotProduct(col("e"), col("e"))).as("diff"))
      .filter(col("diff") =!= 0.0)
    assert(diffs.count() == 0)
  }

  test("q_kmeans: converged partition, genuine loop count, deterministic") {
    val df = run("q_kmeans")
    val rows = df.collect()
    val n = graft.model.Tables.embeddings(spark, sfDir).count()
    // total partition: every vector assigned exactly once, cid in 0..K-1
    assert(rows.length.toLong == n)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == rows.length)
    assert(rows.forall { r =>
      val c = r.getAs[Long]("cid"); c >= 0L && c < 4L
    })
    // convergence is DATA: a single genuine loop count within the declared
    // 50-round ceiling, surfaced as a CollectMetrics observation (the K3
    // discipline, as for q_pagerank)
    val iters = rows.map(_.getAs[Long]("iters")).distinct
    assert(iters.length == 1 && iters.head >= 1L && iters.head < 50L,
      s"suspicious iteration count: ${iters.toSeq}")
    val obs = df.queryExecution.observedMetrics.get("q_kmeans_convergence")
    assert(obs.exists(_.getAs[Long]("converged") == 1L),
      s"q_kmeans_convergence observation missing or not converged: $obs")
    // deterministic end-to-end: exact-integer distances + the cid-indexed
    // argmin tie-break leave no float or ordering slack between runs
    val again = run("q_kmeans").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid")))
    assert(rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid")))
      .sameElements(again))
  }

  test("q_kmeans: a binding iteration cap is reported, not silent") {
    // VERDICT r14 #8: at ≥×10 scale the 50-round ceiling binds before the
    // stability criterion (r13 artifact iters [17, 50, 50, 50]). Force the
    // cap to bind here (1 round can't stabilize this data) and assert the
    // contract: the result is still a valid total partition (the last
    // assignment), and the cap is REPORTED — converged=0 in the
    // q_kmeans_convergence observation, iters = cap on every row.
    val df = graft.queries.Similarity.kmeans(spark, sfDir, maxRounds = 1)
    val rows = df.collect()
    val n = graft.model.Tables.embeddings(spark, sfDir).count()
    assert(rows.length.toLong == n)
    assert(rows.forall { r =>
      val c = r.getAs[Long]("cid"); c >= 0L && c < 4L
    })
    assert(rows.forall(_.getAs[Long]("iters") == 1L))
    val obs = df.queryExecution.observedMetrics.get("q_kmeans_convergence")
    assert(obs.isDefined, "q_kmeans_convergence observation missing")
    assert(obs.get.getAs[Long]("iterations") == 1L)
    // The contract under test is "a binding cap is reported, not
    // silent" — keyed off final_change, not an assumption about the
    // data (ADVICE r15: asserting converged=0 unconditionally would
    // break with a confusing message if a regenerated sf0.001 happened
    // to stabilize in one round from the k-means++ seeding). changed>0
    // means the cap bound → converged must read 0; changed==0 means the
    // data genuinely converged in round 1 → converged must read 1.
    val changed = obs.get.getAs[Long]("final_change")
    val converged = obs.get.getAs[Long]("converged")
    if (changed > 0L)
      assert(converged == 0L,
        s"cap bound (final_change=$changed) but converged=$converged: $obs")
    else {
      info(s"sf0.001 data converged within the 1-round cap; " +
        "cap-binding branch not exercised this run")
      assert(converged == 1L,
        s"stable run (final_change=0) must report converged=1: $obs")
    }
  }
}
