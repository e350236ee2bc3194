package graft

import org.apache.spark.sql.functions._

/** Invariants of the analytics surface (Analytics.scala + q_mv_refresh) that
  * the oracle hash can't express — properties that must hold at every scale,
  * not just equal a value at one: the CMS overcount guarantee over ALL
  * tokens (the declared query only exposes the top 20), gap-fill spine
  * completeness and carry-forward correctness, range-partition totality and
  * value-disjointness, PageRank mass conservation, and MV-refresh ≡
  * recompute on the Spark side (the oracle proves it against DuckDB; this
  * proves it against Spark's own full recompute).
  */
class AnalyticsSpec extends SparkTestBase {

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("q_heavy_hitters: CMS never undercounts, for every reported token") {
    val rows = run("q_heavy_hitters").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"),
        s"CMS undercounted '${r.getAs[String]("tok")}'")
      assert(r.getAs[Boolean]("overcount_ok"))
    }
  }

  test("q_gapfill: spine is complete per user and fill carries the last value") {
    val rows = run("q_gapfill").collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (uid, rs) =>
      val days = rs.map(_.getAs[String]("day")).sorted.toSeq
      // complete daily coverage: consecutive calendar days, no holes
      val (d0, d1) = (java.time.LocalDate.parse(days.head),
        java.time.LocalDate.parse(days.last))
      assert(days.length == java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1,
        s"user $uid spine has holes")
      assert(days.distinct.length == days.length, s"user $uid has duplicate days")
      // forward fill: every gap row repeats the latest preceding non-gap value
      var last = Double.NaN
      rs.sortBy(_.getAs[String]("day")).foreach { r =>
        if (!r.getAs[Boolean]("is_gap")) last = r.getAs[Double]("filled")
        else assert(r.getAs[Double]("filled") == last,
          s"user $uid ${r.getAs[String]("day")}: gap not filled with last value")
        assert((r.getAs[Long]("n") == 0L) == r.getAs[Boolean]("is_gap"))
      }
    }
  }

  test("q_range_partition: partitions are total and value-disjoint") {
    val rows = run("q_range_partition").collect().sortBy(_.getAs[Long]("part"))
    val total = graft.model.Tables.orders(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total,
      "every order must land in exactly one partition")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"),
          s"partitions ${a.getAs[Long]("part")}/${b.getAs[Long]("part")} overlap")
      case _ =>
    }
  }

  test("q_pagerank_step: mass is conserved up to the damping formula") {
    val rows = run("q_pagerank_step").collect()
    assert(rows.nonEmpty)
    // Σ scaled contributions ≤ 10^15 · (#cust / N) < 10^15 (each customer
    // distributes exactly rank 1/N, floored per edge) and every rank is
    // positive and below 1.
    val sumNum = rows.map(_.getAs[Long]("rank_num")).sum
    assert(sumNum > 0L && sumNum < 1000000000000000L)
    rows.foreach { r =>
      val rank = r.getAs[Double]("rank")
      assert(rank > 0.0 && rank < 1.0)
      assert(r.getAs[Long]("in_deg") > 0L)
    }
  }

  test("q_pagerank: converged fixed point conserves mass and reports its loop") {
    val df = run("q_pagerank")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // At the fixed point the TOTAL mass must equal R = 1e12 up to integer
    // truncation: each round loses < 1 unit per node per term (3 truncating
    // divisions), and convergence takes ≤ 100 rounds, so the drift bound is
    // 300 · n units — far below any real mass movement.
    val n = rows.length.toLong
    val mass = rows.map(_.getAs[Long]("rank_num")).sum
    val drift = 1000000000000L - mass
    assert(drift >= 0L && drift <= 300L * n,
      s"mass $mass drifted $drift (bound ${300L * n})")
    // convergence is DATA: the iters column is a genuine loop count, and
    // the final delta at the fixed point is within the declared threshold
    val iters = rows.map(_.getAs[Long]("iters")).distinct
    assert(iters.length == 1 && iters.head >= 2L && iters.head < 100L,
      s"suspicious iteration count: ${iters.toSeq}")
    rows.foreach { r =>
      val rank = r.getAs[Double]("rank")
      assert(rank > 0.0 && rank < 1.0)
    }
    // ...and as a CollectMetrics observation (the K3 discipline)
    val obs = df.queryExecution.observedMetrics.get("q_pagerank_convergence")
    assert(obs.exists(_.getAs[Long]("converged") == 1L),
      s"q_pagerank_convergence observation missing or not converged: $obs")
  }

  test("q_bfs: seeds at 0, fixed point admits no further relaxation") {
    val df = run("q_bfs")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val dist = rows.map(r =>
      r.getAs[Long]("partkey") -> r.getAs[Long]("dist")).toMap
    // seeds are exactly the reached partkey%100==0 nodes at distance 0
    dist.foreach { case (k, v) =>
      if (k % 100 == 0) assert(v == 0L, s"seed $k at dist $v")
      else assert(v >= 1L, s"non-seed $k at dist $v")
    }
    // fixed point: for every graph edge u→v with u reached,
    // dist(v) ≤ dist(u) + 1 — the Bellman-Ford termination certificate
    // (rebuilt from the same consecutive-linenumber definition)
    val li = graft.model.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val edges = li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").as("src"))
      .join(li.select(col("l_orderkey"),
        (col("l_linenumber") - 1).as("l_linenumber"),
        col("l_partkey").as("dst")), Seq("l_orderkey", "l_linenumber"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (u, v) =>
      dist.get(u).foreach { du =>
        val dv = dist.getOrElse(v, Long.MaxValue)
        assert(dv <= du + 1L, s"edge $u→$v relaxable: $du + 1 < $dv")
      }
    }
    val obs = df.queryExecution.observedMetrics.get("q_bfs_convergence")
    assert(obs.exists(_.getAs[Long]("converged") == 1L),
      s"q_bfs_convergence observation missing or not converged: $obs")
  }

  test("q_bpe: merges are lossless joins of adjacent original words") {
    val df = run("q_bpe")
    val rows = df.collect()
    val orig = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == orig.size)
    rows.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val merged = r.getAs[String]("text")
      // un-merging reproduces the original document EXACTLY: every merge
      // only ever joined two adjacent surviving tokens with '_'
      assert(merged.replace('_', ' ') == orig(docId),
        s"doc $docId: un-merged text diverges from the original")
      // declared token count matches the merged text
      assert(r.getAs[Long]("n_tok").toInt == merged.split(" ").length)
    }
    // the merge budget was spent (this corpus has abundant repeated pairs)
    val iters = rows.map(_.getAs[Long]("iters")).distinct
    assert(iters.sameElements(Array(10L)), s"iters: ${iters.toSeq}")
    // ...and merging actually shrank the corpus
    val nTok = rows.map(_.getAs[Long]("n_tok")).sum
    val nOrig = orig.valuesIterator.map(_.split(" ").length.toLong).sum
    assert(nTok < nOrig, s"no shrink: $nTok vs $nOrig")
    val obs = df.queryExecution.observedMetrics.get("q_bpe_convergence")
    assert(obs.exists(_.getAs[Long]("iterations") == 10L))
  }

  test("q_bpe_heldout matches a sequential driver-side train/apply BPE") {
    val orig = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .sortBy(_._1)
    // sequential reference implementation: learn 10 merges on the train
    // split (left-fold pair merge — a different mechanism from the
    // doubled-space string replace), apply in order to every doc
    def mergeOnce(ts: Array[String], w1: String, w2: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == w1 && ts(i + 1) == w2) {
          out += s"${w1}_$w2"; i += 2
        } else { out += ts(i); i += 1 }
      }
      out.toArray
    }
    var corpus = orig.map { case (id, t) => (id, t.split(" ")) }
    for (_ <- 1 to 10) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      corpus.filter(_._1 % 10 != 0).foreach { case (_, ts) =>
        ts.sliding(2).foreach {
          case Array(a, b) if a != b =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
          case _ =>
        }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.nonEmpty) {
        val ((w1, w2), _) = eligible.minBy { case ((a, b), c) => (-c, a, b) }
        corpus = corpus.map { case (id, ts) => (id, mergeOnce(ts, w1, w2)) }
      }
    }
    val expected = corpus.filter(_._1 % 10 == 0).map { case (id, ts) =>
      val n0 = orig.toMap.apply(id).split(" ").length.toLong
      val ratio = ((2 * ts.length * 1000000L + n0) / (2 * n0)).toDouble / 1e6
      (id, n0, ts.length.toLong, ratio, ts.mkString(" "))
    }.toSeq
    val got = run("q_bpe_heldout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4))).toSeq
    assert(got === expected)
    // held-out compression happened but is bounded by train compression
    assert(got.forall(r => r._3 <= r._2))
  }

  test("q_funnel: stage counts are monotonically non-increasing") {
    val n = run("q_funnel").collect().sortBy(_.getAs[String]("stage"))
      .map(_.getAs[Long]("n"))
    assert(n.length == 3 && n(0) >= n(1) && n(1) >= n(2),
      s"funnel widened downstream: ${n.toSeq}")
  }

  test("q_markov: each row's transition probabilities sum to ~1") {
    val rows = run("q_markov").collect()
    rows.groupBy(_.getAs[String]("cur")).foreach { case (cur, rs) =>
      val p = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(p - 1.0) < 1e-4, s"P(next|$cur) sums to $p")
    }
  }

  test("q_ab_test: arms partition the purchases") {
    val total = graft.model.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    val arms = run("q_ab_test").collect()
    assert(arms.length == 2)
    assert(arms.map(_.getAs[Long]("n")).sum == total)
    arms.foreach(r => assert(r.getAs[Double]("variance") > 0.0))
  }

  test("q_entity_match: candidate sets stay bounded, matches within candidates") {
    run("q_entity_match").collect().foreach { r =>
      val (nc, nm) = (r.getAs[Long]("n_cand"), r.getAs[Long]("n_match"))
      assert(nc <= 40, s"unbounded candidate set: $nc") // ≤10 per mask × 4
      assert(nm <= nc && nm >= 0)
      if (nm > 0) assert(r.getAs[Long]("best_key") >= 0)
      else assert(r.getAs[Long]("best_key") == -1L)
    }
  }

  test("q_rfm: segments partition the purchasing users") {
    val users = graft.model.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    val segs = run("q_rfm").collect()
    assert(segs.map(_.getAs[Long]("n_users")).sum == users)
    segs.foreach(r => assert(r.getAs[String]("segment").matches("R[01]F[01]M[01]")))
  }

  test("q_copurchase: affinity is a valid Jaccard over the support counts") {
    run("q_copurchase").collect().foreach { r =>
      val (co, na, nb) = (r.getAs[Long]("n_co"), r.getAs[Long]("na"),
        r.getAs[Long]("nb"))
      assert(co >= 3 && co <= math.min(na, nb),
        s"support exceeds either item's order count: $co vs ($na, $nb)")
      val j = r.getAs[Double]("jacc")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("q_bloom_filter: no false negatives, passes bounded by members + fps") {
    val r = run("q_bloom_filter").head()
    assert(r.getAs[Long]("n_fn") == 0L, "Bloom filter produced a false negative")
    assert(r.getAs[Long]("n_pass") ==
      r.getAs[Long]("n_member") + r.getAs[Long]("n_fp"))
    val fp = r.getAs[Double]("fp_rate")
    assert(fp >= 0.0 && fp < 0.05, s"fp rate $fp out of the designed range")
  }

  test("q_join_cardinality: histogram estimate lands within 10% of exact") {
    val r = run("q_join_cardinality").head()
    val ratio = r.getAs[Double]("est_ratio")
    assert(ratio > 0.9 && ratio < 1.1,
      s"estimate ratio $ratio — histogram statistics degraded")
  }

  test("q_mv_refresh: incremental merge equals full recompute (Spark side)") {
    val merged = run("q_mv_refresh")
    val full = graft.model.Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("o_custkey")
    assert(merged.collect().toSeq == full.collect().toSeq,
      "refresh result diverges from full recompute")
  }

  test("q_mv_refresh_cdc: retraction merge equals recompute with deletes applied") {
    val merged = run("q_mv_refresh_cdc")
    val orders = graft.model.Tables.orders(spark, sfDir)
    val cut = orders.agg(max(col("o_orderdate")).as("m"))
      .select((col("m") - expr("INTERVAL 90 DAYS")).as("cutoff"))
    val full = orders.crossJoin(broadcast(cut))
      .filter(!(col("o_orderdate") < col("cutoff") &&
        col("o_orderkey") % 10 === 7))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("o_custkey")
    assert(merged.collect().toSeq == full.collect().toSeq,
      "CDC merge diverges from full recompute over the post-delete base")
    // the delete channel really fired: some pre-cutoff customer lost rows
    val before = run("q_mv_refresh").collect()
    assert(merged.collect().map(_.getAs[Long]("n")).sum <
      before.map(_.getAs[Long]("n")).sum,
      "no rows were retracted — the CDC path was not exercised")
  }
}
