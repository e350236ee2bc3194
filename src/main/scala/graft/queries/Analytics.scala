package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables._
import graft.ops.Exprs.md5Long

/** Warehouse-analytics operators beyond the SURVEY §2 parity set: frequency
  * sketching, time-series gap-fill, one PageRank iteration, bigram
  * language-model scoring, and range-partition planning. Each is the Spark
  * form of an operator a 100 TB training-data warehouse runs routinely, and
  * each is exact-arithmetic by construction so the DuckDB oracle hash-matches
  * bit-for-bit (SURVEY §5.3 discipline: integer/DECIMAL accumulation,
  * `round(...,6)` only where `ln` differs by 1 ulp between engines).
  */
object Analytics {

  /** The part→part order graph q_pagerank and q_bfs both iterate over:
    * a directed edge for each consecutive-linenumber pair within an
    * order, self-loops dropped, deduplicated. One definition so the two
    * queries (and their recursive-CTE oracles, which spell out the same
    * join) cannot drift apart. AnalyticsSpec's q_bfs test deliberately
    * re-derives it independently — a wrong edit here fails the
    * fixed-point certificate there instead of being masked.
    */
  private def partGraphEdges(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val nxt = li.select(col("l_orderkey"),
      (col("l_linenumber") - 1).as("l_linenumber"),
      col("l_partkey").as("dst"))
    li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").as("src"))
      .join(nxt, Seq("l_orderkey", "l_linenumber"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  val all: Seq[Q] = Seq(

    // ── Count-Min frequency sketch, accuracy-gated: 4 hash rows × 256
    //    buckets over document tokens. At 100 TB the CMS replaces the full
    //    token groupBy when only heavy hitters matter: the bucket sums are a
    //    FIXED-size (4×256) mergeable aggregate — one map-side-combined
    //    shuffle of 1024 rows regardless of corpus size — while the exact
    //    count is an unbounded-cardinality groupBy. The declared result
    //    carries the CMS guarantee as data: estimate ≥ exact always
    //    (overcount-only), and within 3N/256 of exact (the ε·N bound).
    //    Bucket sums are computed FROM the exact counts (sum of counts of
    //    the tokens in each bucket ≡ count of token instances in the
    //    bucket), so one scan feeds both sides of the comparison. ───────────
    Q("q_heavy_hitters",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |exact AS (SELECT tok, count(*) AS n_exact FROM tok GROUP BY tok),
        |tot AS (SELECT count(*) AS nt FROM tok),
        |b AS (SELECT tok, n_exact,
        |  ('0x' || substr(md5('cm0:' || tok),1,15))::BIGINT % 256 AS b0,
        |  ('0x' || substr(md5('cm1:' || tok),1,15))::BIGINT % 256 AS b1,
        |  ('0x' || substr(md5('cm2:' || tok),1,15))::BIGINT % 256 AS b2,
        |  ('0x' || substr(md5('cm3:' || tok),1,15))::BIGINT % 256 AS b3
        |  FROM exact),
        |s0 AS (SELECT b0 AS k, SUM(n_exact)::BIGINT AS s FROM b GROUP BY 1),
        |s1 AS (SELECT b1 AS k, SUM(n_exact)::BIGINT AS s FROM b GROUP BY 1),
        |s2 AS (SELECT b2 AS k, SUM(n_exact)::BIGINT AS s FROM b GROUP BY 1),
        |s3 AS (SELECT b3 AS k, SUM(n_exact)::BIGINT AS s FROM b GROUP BY 1)
        |SELECT b.tok, b.n_exact,
        |  least(s0.s, s1.s, s2.s, s3.s) AS n_est,
        |  least(s0.s, s1.s, s2.s, s3.s) >= b.n_exact AS overcount_ok,
        |  least(s0.s, s1.s, s2.s, s3.s) - b.n_exact <= (3 * tot.nt) // 256
        |    AS within_bound
        |FROM b JOIN s0 ON b.b0 = s0.k JOIN s1 ON b.b1 = s1.k
        |       JOIN s2 ON b.b2 = s2.k JOIN s3 ON b.b3 = s3.k CROSS JOIN tot
        |ORDER BY b.n_exact DESC, b.tok LIMIT 20""".stripMargin) {
      (s, d) =>
        val tok = documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
        val exact = tok.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        val tot = tok.agg(count(lit(1)).as("nt"))
        def bucket(i: Int): Column =
          md5Long(concat(lit(s"cm$i:"), col("tok"))) % 256
        val b = exact.select(col("tok") +: col("n_exact") +:
          (0 to 3).map(i => bucket(i).as(s"b$i")): _*)
        // bucket sums derived from the (cached) per-token counts — ≤256 rows
        // each, broadcast back onto the token side
        // ledger M10: q_heavy_hitters 2× slower without it
        val bc = b.cache()
        val joined = (0 to 3).foldLeft(bc.as("t")) { (acc, i) =>
          val si = bc.groupBy(col(s"b$i").as(s"k$i"))
            .agg(sum(col("n_exact")).as(s"s$i"))
          acc.join(broadcast(si), col(s"b$i") === col(s"k$i"))
        }
        val est = least((0 to 3).map(i => col(s"s$i")): _*)
        joined.crossJoin(broadcast(tot))
          .select(col("tok"), col("n_exact"), est.as("n_est"),
            (est >= col("n_exact")).as("overcount_ok"),
            (est - col("n_exact") <= expr("(3 * nt) div 256"))
              .as("within_bound"))
          .orderBy(col("n_exact").desc, col("tok")).limit(20)
    },

    // ── one PageRank iteration from the uniform vector, over the
    //    customer→supplier bipartite graph (distinct trade edges from
    //    lineitem ⋈ orders). Per-iteration shape at scale: one equi-join
    //    (edges ⋈ out-degrees, both partitioned by source) + one groupBy —
    //    the canonical iterate-on-Spark plan, no driver state. Exactness:
    //    each edge's contribution rank/outdeg = 1/(N·outdeg) is carried as
    //    the INTEGER 10^15 ∕ (N·outdeg) (floor division both engines), so
    //    the per-target sum is an order-independent exact BIGINT (total
    //    mass < 10^15 — never overflows); only the final, per-row
    //    damping formula touches doubles, every operand of which is
    //    bit-identical across engines. ────────────────────────────────────
    Q("q_pagerank_step",
      """WITH edges AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |nn AS (SELECT (SELECT count(DISTINCT c) FROM edges)
        |             + (SELECT count(DISTINCT s) FROM edges) AS n),
        |outd AS (SELECT c, count(*) AS od FROM edges GROUP BY c),
        |contrib AS (SELECT e.s, 1000000000000000 // (nn.n * o.od) AS w
        |  FROM edges e JOIN outd o ON e.c = o.c CROSS JOIN nn),
        |agg AS (SELECT s, count(*) AS in_deg, SUM(w)::BIGINT AS rank_num
        |        FROM contrib GROUP BY s)
        |SELECT a.s AS suppkey, a.in_deg, a.rank_num,
        |  round(0.15 / nn.n + 0.85 * (a.rank_num / 1000000000000000.0), 9)
        |    AS rank
        |FROM agg a CROSS JOIN nn ORDER BY suppkey""".stripMargin) {
      (s, d) =>
        val edges = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
          .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .distinct()
        val nn = edges.agg(
          (count_distinct(col("c")) + count_distinct(col("s"))).as("n"))
        val outd = edges.groupBy("c").agg(count(lit(1)).as("od"))
        edges.join(outd, "c").crossJoin(broadcast(nn))
          .select(col("s"), expr("1000000000000000 div (n * od)").as("w"),
            col("n"))
          .groupBy("s", "n")
          .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("rank_num"))
          .select(col("s").as("suppkey"), col("in_deg"), col("rank_num"),
            round(lit(0.15) / col("n") +
              lit(0.85) * (col("rank_num") / lit(1000000000000000.0)), 9)
              .as("rank"))
          .orderBy("suppkey")
    },

    // ── PageRank to CONVERGENCE (the driver-loop discipline of
    //    ConnectedComponents applied to the power iteration): a part→part
    //    graph from consecutive line numbers within each order (sparse and
    //    cyclic, unlike the bipartite customer→supplier step graph whose
    //    fixed point is reached in one hop), iterated until the max
    //    per-node rank change falls under an INTEGER threshold —
    //    R/(n·1000), 0.1% of the uniform share — so termination is
    //    engine-exact, not float-fuzzy. All arithmetic is scaled-integer
    //    (R = 1e12) with truncating division in the SAME order on both
    //    engines; dangling mass is redistributed uniformly, so total mass
    //    is conserved up to truncation (the spec pins it). Each round:
    //    ranks ⋈ edges (the Pregel send), groupBy dst (the combine), one
    //    eager localCheckpoint (lineage truncation — plans stay
    //    constant-size no matter the round count), and two scalar driver
    //    aggregates (delta, dangling mass) — driver state is two longs,
    //    the rank vector itself never leaves the cluster. The DuckDB
    //    oracle is the identical loop as a recursive CTE whose recursive
    //    term carries (rank, prev-rank) and gates on the same threshold.
    //    Iterations surface both as DATA (the `iters` column) and as a
    //    CollectMetrics observation (the K3 discipline). ──────────────────
    Q("q_pagerank",
      """WITH RECURSIVE
        |edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND b.l_linenumber = a.l_linenumber + 1
        |  WHERE a.l_partkey <> b.l_partkey),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        |pr(it, node, rk, prev) AS (
        |  SELECT 0, node, (1000000000000 // n)::BIGINT, 0::BIGINT
        |  FROM nodes CROSS JOIN nn
        |  UNION ALL
        |  SELECT p.it + 1, p.node,
        |    ((15 * 1000000000000) // (100 * nn.n)
        |     + (85 * coalesce(c.s, 0)) // 100
        |     + (85 * (SELECT coalesce(sum(d.rk), 0) FROM pr d
        |              LEFT JOIN outd o2 ON d.node = o2.src
        |              WHERE o2.src IS NULL)) // (100 * nn.n))::BIGINT,
        |    p.rk
        |  FROM pr p CROSS JOIN nn
        |  LEFT JOIN (SELECT e.dst, sum(q.rk // o.od)::BIGINT AS s
        |             FROM pr q JOIN edges e ON q.node = e.src
        |             JOIN outd o ON e.src = o.src
        |             GROUP BY e.dst) c ON p.node = c.dst
        |  WHERE p.it < 100
        |    AND (SELECT max(abs(x.rk - x.prev)) FROM pr x)
        |        > (SELECT 1000000000000 // (n * 1000) FROM nn))
        |SELECT node AS partkey, rk AS rank_num,
        |  round(rk / 1000000000000.0, 9) AS rank, it::BIGINT AS iters
        |FROM pr WHERE it = (SELECT max(it) FROM pr)
        |ORDER BY partkey""".stripMargin) {
      (s, d) =>
        val R = 1000000000000L
        // edges + out-degrees are loop-invariant: checkpointed ONCE and
        // re-joined every round (the reused-partitioning discipline)
        // ledger M12: q_pagerank 2.3× slower without its three checkpoints
        val edges = partGraphEdges(s, d).localCheckpoint()
        val outd = edges.groupBy("src").agg(count(lit(1)).as("od"))
        // laid out on the per-round join key ONCE (Loop.edgeSide): every
        // iteration's ranks⋈eo join reads it in place, so only the small
        // rank vector ever moves — the edge table shuffles once per query,
        // not once per round, which is the property that matters when the
        // edge table is the 100 TB side
        val eo = graft.ops.Loop.edgeSide(edges, edges.join(outd, "src"))
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
          // ledger M13: q_pagerank 2.3× slower without its three checkpoints
          .localCheckpoint()
        val n = nodes.count()
        val base = (15L * R) / (100L * n)
        val thr = R / (n * 1000L)
        // DANGLING is a loop-invariant NODE PROPERTY (no out-edges), so it
        // is computed ONCE as a flag column of the loop-carried frame —
        // round 16's version re-derived it per round via ranks ANTI-JOIN
        // out-degrees, which re-aggregated the (100 TB-side) edge
        // checkpoint every single round: JobsX measured one ~2.4 MB
        // edge-shuffle job + the anti-join/aggregate jobs per round at
        // sf0.1, ~5 of the ~9 jobs each round (guide §2.4: remove
        // duplicate work / loop-invariant code motion)
        var ranks = nodes
          .join(outd.select(col("src"), lit(true).as("has_out")),
            nodes("node") === outd("src"), "left")
          .select(col("node"), lit(R / n).as("rk"),
            col("has_out").isNull.as("dg"))
          // ledger M14: q_pagerank 2.3× slower without its three checkpoints
          .localCheckpoint()
        // initial dangling mass: every node starts at rk = R/n exactly
        var dmass = (R / n) * ranks.filter(col("dg")).count()
        var iters = 0
        var delta = Long.MaxValue
        while (delta > thr && iters < 100) {
          val contribs = ranks.join(eo, ranks("node") === eo("src"))
            .select(col("dst"), expr("rk div od").as("w"))
            .groupBy("dst").agg(sum(col("w")).as("s"))
          // the round's dangling mass is a DRIVER LONG observed on the
          // PREVIOUS round's checkpoint (sum of rk over dg rows — the
          // identical value the anti-join aggregate produced, since the
          // dangling set never changes); it rides a broadcast 1-row
          // parameter frame, NOT a literal, so every round's plan
          // generates identical code (the q_bpe Janino-cache discipline)
          val param = s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row(
              java.lang.Long.valueOf(dmass))),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("dmass",
                org.apache.spark.sql.types.LongType))))
          // ONE action per round: the convergence delta AND the next
          // round's dangling mass ride the checkpoint's execution as
          // CollectMetrics observations (the q_kmeans discipline) instead
          // of extra jobs per round. The prev column feeds ONLY the
          // observation, so Loop.round projects it away before the
          // checkpoint
          val staged = ranks.select(col("node"), col("rk").as("prev"),
              col("dg"))
            .join(contribs, col("node") === col("dst"), "left")
            .crossJoin(broadcast(param))
            .select(col("node"),
              (lit(base) + expr("(85 * coalesce(s, 0)) div 100") +
                expr(s"(85 * dmass) div (100 * $n)")).as("rk"),
              col("prev"), col("dg"))
          iters += 1
          val (next, m) = graft.ops.Loop.round("q_pagerank", iters, staged,
            col("node"), col("rk"), col("dg"))(
            coalesce(max(abs(col("rk") - col("prev"))), lit(0L)).as("d"),
            coalesce(sum(when(col("dg"), col("rk"))), lit(0L)).as("dm"))
          delta = m.getAs[Long]("d")
          dmass = m.getAs[Long]("dm")
          ranks = next
        }
        graft.ops.Loop.report(ranks
          .select(col("node").as("partkey"), col("rk").as("rank_num"),
            round(col("rk") / lit(1.0e12), 9).as("rank"),
            lit(iters).cast("long").as("iters"))
          .orderBy("partkey"), "q_pagerank", iters, delta, delta <= thr)
    },

    // ── multi-source shortest paths (BFS distance-to-nearest-seed, the
    //    propagation op a curation pipeline runs to trace contamination /
    //    lineage hops from a seed set): Bellman-Ford label correction over
    //    the SAME part→part graph as q_pagerank, seeds = partkey % 100 == 0
    //    at distance 0, everyone else at the 10⁹ sentinel. Per round: the
    //    REACHED nodes (dist < sentinel) send dist+1 along their edges, one
    //    groupBy-min per destination, least() with the incumbent — all
    //    exact integers — and the changed-count rides the round's single
    //    localCheckpoint job as a CollectMetrics observation (the q_kmeans
    //    discipline). The edge table shuffles ONCE (pre-partitioned on src
    //    before its one-time checkpoint); only the dist vector moves per
    //    round. Rounds are bounded by graph diameter — O(log N) on this
    //    near-clique order graph, ≤30 declared. The DuckDB oracle is the
    //    identical loop as a recursive CTE carrying (dist, prev-dist),
    //    gated on the same changed-count — the q_pagerank construction,
    //    already proven hash-exact. Unreached nodes are dropped at the end
    //    on both engines. ────────────────────────────────────────────────
    Q("q_bfs",
      """WITH RECURSIVE
        |edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND b.l_linenumber = a.l_linenumber + 1
        |  WHERE a.l_partkey <> b.l_partkey),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        |bfs(it, node, dist, prev) AS (
        |  SELECT 0, node,
        |    (CASE WHEN node % 100 = 0 THEN 0 ELSE 1000000000 END)::BIGINT,
        |    (-1)::BIGINT
        |  FROM nodes
        |  UNION ALL
        |  SELECT b.it + 1, b.node,
        |    least(b.dist, coalesce(c.md, 1000000000))::BIGINT, b.dist
        |  FROM bfs b LEFT JOIN (
        |      SELECT e.dst, (min(q.dist) + 1)::BIGINT AS md
        |      FROM bfs q JOIN edges e ON q.node = e.src
        |      WHERE q.dist < 1000000000
        |      GROUP BY e.dst) c ON b.node = c.dst
        |  WHERE b.it < 30
        |    AND (SELECT count(*) FROM bfs z WHERE z.dist <> z.prev) > 0)
        |SELECT node AS partkey, dist, it::BIGINT AS iters
        |FROM bfs
        |WHERE it = (SELECT max(it) FROM bfs) AND dist < 1000000000
        |ORDER BY partkey""".stripMargin) {
      (s, d) =>
        val INF = 1000000000L
        // the loop-invariant edge side is laid out on src once, as for
        // q_pagerank (Loop.edgeSide)
        // ledger M15: q_bfs slower, 34 → 38 jobs without its two checkpoints
        val edges0 = partGraphEdges(s, d).localCheckpoint()
        val edges = graft.ops.Loop.edgeSide(edges0, edges0)
        val nodes = edges0.select(col("src").as("node"))
          .union(edges0.select(col("dst").as("node"))).distinct()
        var dist = nodes.select(col("node"),
            when(col("node") % 100 === 0, 0L).otherwise(INF).as("dist"))
          // ledger M16: q_bfs slower, 34 → 38 jobs without its two checkpoints
          .localCheckpoint()
        var iters = 0
        var changed = Long.MaxValue
        while (changed > 0L && iters < 30) {
          val cand = dist.filter(col("dist") < INF)
            .join(edges, dist("node") === edges("src"))
            .groupBy("dst").agg((min(col("dist")) + 1L).as("md"))
          // old feeds only the observation — Loop.round projects it away
          // before the checkpoint (see q_pagerank)
          val staged = dist.select(col("node"), col("dist").as("old"))
            .join(cand, col("node") === col("dst"), "left")
            .select(col("node"),
              least(col("old"), coalesce(col("md"), lit(INF))).as("dist"),
              col("old"))
          iters += 1
          val (next, m) = graft.ops.Loop.round("q_bfs", iters, staged,
            col("node"), col("dist"))(
            coalesce(sum(when(col("dist") =!= col("old"), 1L)), lit(0L))
              .as("n"))
          changed = m.getAs[Long]("n")
          dist = next
        }
        graft.ops.Loop.report(dist.filter(col("dist") < INF)
          .select(col("node").as("partkey"), col("dist"),
            lit(iters).cast("long").as("iters"))
          .orderBy("partkey"), "q_bfs", iters, changed, changed == 0L)
    },

    // ── bigram language-model scoring: add-one-smoothed P(w2|w1) from
    //    corpus-wide bigram/unigram counts, average log-probability per
    //    sampled document — the perplexity-style quality gate a curation
    //    pipeline runs against a reference corpus. Counts are plain
    //    groupBys; the scored side is a fixed hash sample (doc_id % 97, the
    //    q_tfidf discipline) so the join fan-out is bounded. ln() rounds to
    //    6 decimals per term, then accumulates in DECIMAL(18,6) —
    //    order-independent, engine-exact. ─────────────────────────────────
    Q("q_bigram_lm",
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |big AS (SELECT doc_id, unnest(list_transform(
        |          generate_series(1, len(ts)-1),
        |          i -> ts[i] || ' ' || ts[i+1])) AS bg
        |        FROM t WHERE len(ts) >= 2),
        |c2 AS (SELECT bg, count(*) AS c2 FROM big GROUP BY bg),
        |uni AS (SELECT unnest(ts) AS w FROM t),
        |c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
        |v AS (SELECT count(DISTINCT w) AS v FROM uni),
        |scored AS (SELECT b.doc_id,
        |    CAST(round(ln((c2.c2 + 1) / CAST(c1.c1 + v.v AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM big b JOIN c2 ON b.bg = c2.bg
        |  JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w CROSS JOIN v
        |  WHERE b.doc_id % 97 = 0)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  ${graft.ops.Exprs.roundDivSql("SUM(lp)*1000000",
             "count(*)*1000000", 6)} AS avg_logp
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val t = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
        val big = t.filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ts")) - 1),
            i => concat(element_at(col("ts"), i), lit(" "),
              element_at(col("ts"), i + 1)))).as("bg"))
        val c2 = big.groupBy("bg").agg(count(lit(1)).as("c2"))
        val uni = t.select(explode(col("ts")).as("w"))
        val c1 = uni.groupBy("w").agg(count(lit(1)).as("c1"))
        val v = uni.agg(count_distinct(col("w")).as("v"))
        big.filter(col("doc_id") % 97 === 0)
          .join(c2, "bg")
          .join(c1, element_at(split(col("bg"), " "), 1) === col("w"))
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            round(log((col("c2") + 1) /
              (col("c1") + col("v")).cast("double")), 6)
              .cast("decimal(18,6)").as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            // exact integer-arithmetic rounding of the DECIMAL(18,6)-sum /
            // count quotient (SURVEY §5.3 residual): scale both by 10^6 so
            // the numerator is an exact BIGINT
            graft.ops.Exprs.roundDiv(sum(col("lp")) * lit(1000000L),
              count(lit(1)) * lit(1000000L), 6).as("avg_logp"))
          .orderBy("doc_id")
    },

    // ── range-partition planning: the boundary computation behind every
    //    distributed sort / sorted-lake write. A deterministic hash sample
    //    BOUNDED to ≤1000 rows at any scale — 5% hash-gate, then the 1000
    //    hash-smallest rows via TakeOrderedAndProject (per-partition
    //    truncation before the shuffle), the same bounded-sample discipline
    //    as Spark's own RangePartitioner — is ranked into 8 tiles (the
    //    ntile window runs over the bounded sample only; the full table
    //    never sees a global window), tile maxima become the 7 split
    //    points, and every order is assigned by counting boundaries below
    //    its price — a broadcast array membership, pure map stage. The
    //    declared result is the per-partition row count + [lo, hi] — the
    //    balance check a planner does before committing to a layout. ──────
    Q("q_range_partition",
      """WITH s AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE ('0x' || substr(md5(o_orderkey::VARCHAR),1,15))::BIGINT
        |        % 20 = 0
        |  ORDER BY ('0x' || substr(md5(o_orderkey::VARCHAR),1,15))::BIGINT,
        |    o_orderkey LIMIT 1000),
        |t AS (SELECT o_totalprice, o_orderkey,
        |        ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS tile
        |      FROM s),
        |-- coalesce to []: an empty sample must give part 0 everywhere on
        |-- both engines (Spark's collect_list is [] over zero rows, but
        |-- DuckDB's list() is NULL -> len(list_filter(NULL,..)) is NULL)
        |bl AS (SELECT coalesce(list_sort(list(bnd)), []) AS bs FROM
        |       (SELECT max(o_totalprice) AS bnd FROM t
        |        WHERE tile < 8 GROUP BY tile)),
        |asg AS (SELECT o.o_orderkey, o.o_totalprice,
        |    CAST(len(list_filter(bl.bs, b -> b < o.o_totalprice)) AS BIGINT)
        |      AS part
        |  FROM orders o CROSS JOIN bl)
        |SELECT part, count(*) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM asg GROUP BY part ORDER BY part""".stripMargin) {
      (s, d) =>
        val sample = orders(s, d)
          .filter(md5Long(col("o_orderkey").cast("string")) % 20 === 0)
          .orderBy(md5Long(col("o_orderkey").cast("string")), col("o_orderkey"))
          .limit(1000)
          .select(col("o_orderkey"), col("o_totalprice"))
        val tiled = sample.withColumn("tile",
          ntile(8).over(Window.orderBy("o_totalprice", "o_orderkey")))
        val bl = tiled.filter(col("tile") < 8)
          .groupBy("tile").agg(max(col("o_totalprice")).as("bnd"))
          .agg(array_sort(collect_list(col("bnd"))).as("bs"))
        orders(s, d).crossJoin(broadcast(bl))
          .select(col("o_totalprice"),
            size(filter(col("bs"), b => b < col("o_totalprice")))
              .cast("long").as("part"))
          .groupBy("part")
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"))
          .orderBy("part")
    },

    // ── time-based rolling window: per-user trailing-24 h event count and
    //    exact decimal sum via a RANGE frame over epoch-µs ordering — the
    //    monitoring/feature-engineering aggregate (complements the ROWS
    //    frame of q_window_frame). The user filter is partition-local so it
    //    applies BEFORE the window on both engines; at scale the window
    //    shards per user with no global sort, and the frame is evaluated by
    //    a sliding accumulator, not O(n²) re-scans. ─────────────────────────
    Q("q_rolling_window",
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus,
        |             event_id, value
        |           FROM events WHERE user_id % 50 = 0)
        |SELECT user_id, event_id, tus,
        |  count(*) OVER (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS n_24h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS sum_24h
        |FROM e ORDER BY user_id, tus, event_id""".stripMargin) {
      (s, d) =>
        val win = Window.partitionBy("user_id").orderBy("tus")
          .rangeBetween(-86400000000L, Window.currentRow)
        events(s, d).filter(col("user_id") % 50 === 0)
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"), col("value"))
          .select(col("user_id"), col("event_id"), col("tus"),
            count(lit(1)).over(win).as("n_24h"),
            sum(col("value").cast("decimal(18,6)")).over(win)
              .cast("double").as("sum_24h"))
          .orderBy("user_id", "tus", "event_id")
    },

    // ── one BPE merge step — the tokenizer-training primitive: count all
    //    adjacent token pairs across the corpus (one explode + groupBy —
    //    the shuffle that dominates real BPE training), pick the most
    //    frequent pair (TakeOrderedAndProject, no global sort), and report
    //    the merge's effect: vocab grows by one, corpus token count shrinks
    //    by the pair count. Restricted to non-identical pairs (w1 ≠ w2), so
    //    occurrences cannot overlap and the plain bigram count IS the
    //    greedy non-overlapping merge count — the declared numbers stay
    //    exact integers without a per-doc fold. ────────────────────────────
    Q("q_bpe_step",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |big AS (SELECT doc_id, unnest(list_transform(
        |          generate_series(1, len(ts)-1),
        |          i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS pr
        |        FROM t WHERE len(ts) >= 2),
        |pairs AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM big
        |          WHERE pr.w1 <> pr.w2),
        |pc AS (SELECT w1, w2, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
        |       FROM pairs GROUP BY 1, 2),
        |top AS (SELECT w1, w2, cnt, n_docs FROM pc
        |        ORDER BY cnt DESC, w1, w2 LIMIT 1),
        |voc AS (SELECT count(DISTINCT w) AS v FROM
        |        (SELECT unnest(ts) AS w FROM t)),
        |tok AS (SELECT SUM(len(ts))::BIGINT AS n_tok FROM t)
        |SELECT top.w1 || ' ' || top.w2 AS pair, top.cnt, top.n_docs,
        |  voc.v AS vocab_before, voc.v + 1 AS vocab_after,
        |  tok.n_tok AS tokens_before, tok.n_tok - top.cnt AS tokens_after
        |FROM top CROSS JOIN voc CROSS JOIN tok""".stripMargin) {
      (s, d) =>
        val t = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
        val pairs = t.filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("w1"),
              element_at(col("ts"), i + 1).as("w2")))).as("pr"))
          .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
          .filter(col("w1") =!= col("w2"))
        val top = pairs.groupBy("w1", "w2")
          .agg(count(lit(1)).as("cnt"), count_distinct(col("doc_id")).as("n_docs"))
          .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
        val voc = t.select(explode(col("ts")).as("w"))
          .agg(count_distinct(col("w")).as("v"))
        val tok = t.agg(sum(size(col("ts")).cast("long")).as("n_tok"))
        top.crossJoin(broadcast(voc)).crossJoin(broadcast(tok))
          .select(concat(col("w1"), lit(" "), col("w2")).as("pair"),
            col("cnt"), col("n_docs"),
            col("v").as("vocab_before"), (col("v") + 1).as("vocab_after"),
            col("n_tok").as("tokens_before"),
            (col("n_tok") - col("cnt")).as("tokens_after"))
    },

    // ── BPE training LOOP — q_bpe_step's merge primitive iterated to a
    //    vocab budget (10 merges), the word-level analog of tokenizer
    //    training. The corpus is carried as STRINGS with doubled spaces
    //    (' a  b  c '), which makes the per-round merge a plain
    //    boundary-anchored replace(' w1  w2 ' → ' w1_w2 ') that cannot
    //    miss adjacent occurrences (' a  b  a  b ' matches twice — the
    //    single-space trailing context of one match is re-usable as the
    //    leading context of the next) and cannot match inside tokens
    //    (tokens contain no spaces; '_' never occurs in the corpus, so
    //    merged tokens cannot collide). With the q_bpe_step w1 ≠ w2
    //    restriction, occurrences are provably non-overlapping, so both
    //    engines' left-to-right replace() perform the identical greedy
    //    merge. Each round: one bigram groupBy over the re-split corpus →
    //    top pair (cnt desc, then lexicographic — engine-exact total
    //    order) → ONE driver row that parameterizes the next round's
    //    rewrite (the decision is inherently sequential — this is how
    //    distributed BPE trainers work); rounds chain 10 narrow replaces
    //    over the once-checkpointed corpus, so there is no per-round
    //    shuffle of the data itself, only the fixed-size pair-count
    //    aggregate. Stops early if no pair reaches count 2. The DuckDB
    //    oracle is the identical loop as a recursive CTE whose recursive
    //    term cross-joins the working corpus with its own top-pair
    //    selection. Output: the final merged text per document — an exact
    //    string hash of the whole training trajectory. ─────────────────────
    Q("q_bpe",
      """WITH RECURSIVE
        |t0 AS (SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS s
        |       FROM documents),
        |bpe(it, doc_id, s) AS (
        |  SELECT 0, doc_id, s FROM t0
        |  UNION ALL
        |  SELECT b.it + 1, b.doc_id,
        |    replace(b.s, ' ' || tp.w1 || '  ' || tp.w2 || ' ',
        |                 ' ' || tp.w1 || '_' || tp.w2 || ' ')
        |  FROM bpe b CROSS JOIN (
        |    SELECT w1, w2 FROM (
        |      SELECT ts[i] AS w1, ts[i + 1] AS w2, count(*) AS cnt
        |      -- range() rejects subquery args, so the position range is a
        |      -- fixed bound filtered by i < len(ts); 1024 is 10x the
        |      -- corpus's 100-token max, and the Spark side caps its
        |      -- sequence() at the same 1023 — the engines ignore pairs
        |      -- past that position identically, never divergently
        |      FROM (SELECT string_split(trim(replace(s, '  ', ' ')), ' ')
        |              AS ts FROM bpe) q
        |      CROSS JOIN range(1, 1024) r(i)
        |      WHERE i < len(ts) AND ts[i] <> ts[i + 1]
        |      GROUP BY 1, 2
        |      HAVING count(*) >= 2
        |      ORDER BY cnt DESC, w1, w2 LIMIT 1)) tp
        |  WHERE b.it < 10)
        |SELECT doc_id,
        |  len(string_split(trim(replace(s, '  ', ' ')), ' '))::BIGINT
        |    AS n_tok,
        |  trim(replace(s, '  ', ' ')) AS text, it::BIGINT AS iters
        |FROM bpe WHERE it = (SELECT max(it) FROM bpe)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val M = 10
        def collapsed(c: Column): Column =
          trim(call_function("replace", c, lit("  "), lit(" ")))
        // LAZY checkpoints (round 17, guide §1.2 "remove passes"): each
        // round used to run TWO jobs — the top-pair collect, then an eager
        // checkpoint that re-materialized the rewrite. A lazy localCheckpoint
        // materializes inside the NEXT round's pair-count job (whose map
        // stage computes every partition of the frame anyway), so the loop
        // runs ONE job per round; the final frame materializes inside the
        // consumer's own action. Lineage is still truncated per round —
        // plans stay constant-size. (spread() was tried here and measured
        // a REGRESSION — 4.1 → 6.5 s: 32-way tiny-task scheduling per
        // round costs more than the 0.25 s single-task map it
        // parallelizes at sf0.1; at real scale the corpus scan is already
        // multi-partition, so nothing is lost by leaving it out.)
        var cur = documents(s, d)
          .select(col("doc_id"),
            concat(lit(" "),
              call_function("replace", col("text"), lit(" "), lit("  ")),
              lit(" ")).as("s"))
        var iters = 0
        var done = false
        var lastCount = 0L
        while (!done && iters < M) {
          // project the token array into a real column FIRST: referencing
          // the split(...) expression inside the transform lambda would
          // inline it per element_at — an O(len²) re-split per document.
          // Positions cap at 1023 to mirror the oracle's fixed range(1,
          // 1024) (DuckDB range() rejects subquery bounds) — both engines
          // ignore pairs past position 1023 identically, so a pathological
          // >=1024-token document cannot silently diverge the merge choice
          val top = cur.select(split(collapsed(col("s")), " ").as("ts"))
            .filter(size(col("ts")) >= 2)
            .select(explode(transform(
              sequence(lit(1), least(size(col("ts")) - 1, lit(1023))),
              i => struct(element_at(col("ts"), i).as("w1"),
                element_at(col("ts"), i + 1).as("w2")))).as("pr"))
            .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
            .filter(col("w1") =!= col("w2"))
            .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") >= 2)
            .orderBy(col("cnt").desc, col("w1"), col("w2"))
            .limit(1).collect()
          if (top.isEmpty) done = true
          else {
            // the merge pair rides a broadcast 1-row parameter table, NOT
            // literals: every round's plan then generates IDENTICAL code
            // (Janino caches on source text), so whole-stage codegen
            // compiles once for all 10 rounds instead of once per round —
            // and the per-round checkpoint keeps round k from re-running
            // rounds 1..k-1's replaces
            val param = s.createDataFrame(
              java.util.List.of(org.apache.spark.sql.Row(
                s" ${top(0).getString(0)}  ${top(0).getString(1)} ",
                s" ${top(0).getString(0)}_${top(0).getString(1)} ")),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("pat",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("rep",
                  org.apache.spark.sql.types.StringType))))
            // cur's carried estimate only grows linearly here (1-row param
            // join, 10 rounds), but loop state is carried one way
            cur = graft.ops.Loop.carry(cur.crossJoin(broadcast(param))
              .select(col("doc_id"),
                call_function("replace", col("s"), col("pat"), col("rep"))
                  .as("s")), eager = false)
            lastCount = top(0).getLong(2)
            iters += 1
          }
        }
        // converged = no pair repeats any more; final_change = the last
        // merged pair's count (0 when converged)
        graft.ops.Loop.report(cur.select(col("doc_id"),
            size(split(collapsed(col("s")), " ")).cast("long").as("n_tok"),
            collapsed(col("s")).as("text"),
            lit(iters).cast("long").as("iters"))
          .orderBy("doc_id"), "q_bpe", iters,
          if (done) 0L else lastCount, done)
    },

    // ── BPE applied to HELD-OUT data (round 11): the other half of the
    //    tokenizer story — q_bpe trains AND encodes on the same corpus, so
    //    its compression number can't distinguish memorization from
    //    generalization. Here the merge sequence is learned ONLY from the
    //    train split (doc_id % 10 ≠ 0) and applied, in learned order, to
    //    every document; the declared output is the TEST split's encoding
    //    (tokens before/after, the compression ratio through roundDiv, and
    //    the merged text — an exact string hash of the whole train→apply
    //    trajectory). Machinery is q_bpe's verbatim: doubled-space strings,
    //    boundary-anchored replace, w1 ≠ w2 non-overlap guarantee,
    //    broadcast 1-row merge parameter (Janino compiles the round plan
    //    once), per-round localCheckpoint. The ONLY change: the pair-count
    //    aggregate reads the train rows, the rewrite maps over everything.
    //    Scale: identical to q_bpe — 10 narrow replaces over the
    //    once-checkpointed corpus, per-round state is one driver row. ──────
    Q("q_bpe_heldout",
      s"""WITH RECURSIVE
        |t0 AS (SELECT doc_id,
        |         len(string_split(text, ' '))::BIGINT AS n0,
        |         ' ' || replace(text, ' ', '  ') || ' ' AS s
        |       FROM documents),
        |bpe(it, doc_id, n0, s) AS (
        |  SELECT 0, doc_id, n0, s FROM t0
        |  UNION ALL
        |  SELECT b.it + 1, b.doc_id, b.n0,
        |    replace(b.s, ' ' || tp.w1 || '  ' || tp.w2 || ' ',
        |                 ' ' || tp.w1 || '_' || tp.w2 || ' ')
        |  FROM bpe b CROSS JOIN (
        |    SELECT w1, w2 FROM (
        |      SELECT ts[i] AS w1, ts[i + 1] AS w2, count(*) AS cnt
        |      FROM (SELECT string_split(trim(replace(s, '  ', ' ')), ' ')
        |              AS ts FROM bpe WHERE doc_id % 10 <> 0) q
        |      CROSS JOIN range(1, 1024) r(i)
        |      WHERE i < len(ts) AND ts[i] <> ts[i + 1]
        |      GROUP BY 1, 2
        |      HAVING count(*) >= 2
        |      ORDER BY cnt DESC, w1, w2 LIMIT 1)) tp
        |  WHERE b.it < 10)
        |SELECT doc_id, n0 AS tokens_before,
        |  len(string_split(trim(replace(s, '  ', ' ')), ' '))::BIGINT
        |    AS tokens_after,
        |  ${graft.ops.Exprs.roundDivSql(
             "len(string_split(trim(replace(s, '  ', ' ')), ' '))", "n0", 6)}
        |    AS ratio,
        |  trim(replace(s, '  ', ' ')) AS text
        |FROM bpe WHERE it = (SELECT max(it) FROM bpe) AND doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val M = 10
        def collapsed(c: Column): Column =
          trim(call_function("replace", c, lit("  "), lit(" ")))
        // lazy per-round checkpoints: one job per round instead of two —
        // see q_bpe above
        var cur = documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n0"),
            concat(lit(" "),
              call_function("replace", col("text"), lit(" "), lit("  ")),
              lit(" ")).as("s"))
        var iters = 0
        var done = false
        while (!done && iters < M) {
          // the pair statistics see ONLY the train split; the projection
          // discipline and the 1023 position cap mirror q_bpe exactly
          val top = cur.filter(col("doc_id") % 10 =!= 0)
            .select(split(collapsed(col("s")), " ").as("ts"))
            .filter(size(col("ts")) >= 2)
            .select(explode(transform(
              sequence(lit(1), least(size(col("ts")) - 1, lit(1023))),
              i => struct(element_at(col("ts"), i).as("w1"),
                element_at(col("ts"), i + 1).as("w2")))).as("pr"))
            .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
            .filter(col("w1") =!= col("w2"))
            .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") >= 2)
            .orderBy(col("cnt").desc, col("w1"), col("w2"))
            .limit(1).collect()
          if (top.isEmpty) done = true
          else {
            val param = s.createDataFrame(
              java.util.List.of(org.apache.spark.sql.Row(
                s" ${top(0).getString(0)}  ${top(0).getString(1)} ",
                s" ${top(0).getString(0)}_${top(0).getString(1)} ")),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("pat",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("rep",
                  org.apache.spark.sql.types.StringType))))
            cur = graft.ops.Loop.carry(cur.crossJoin(broadcast(param))
              .select(col("doc_id"), col("n0"),
                call_function("replace", col("s"), col("pat"), col("rep"))
                  .as("s")), eager = false)
            iters += 1
          }
        }
        cur.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("n0").as("tokens_before"),
            size(split(collapsed(col("s")), " ")).cast("long")
              .as("tokens_after"),
            graft.ops.Exprs.roundDiv(
              size(split(collapsed(col("s")), " ")).cast("long"),
              col("n0"), 6).as("ratio"),
            collapsed(col("s")).as("text"))
          .orderBy("doc_id")
    },

    // ── conversion funnel: view → click → purchase with a 1-day window per
    //    step, per-user earliest-qualifying-event semantics (first view,
    //    first click after it, first purchase after that). Three stages =
    //    two key-partitioned join+agg rounds on user_id — at scale each is
    //    one shuffle on the same key, and AQE reuses the partitioning. The
    //    declared result is the per-stage user count as stage rows (a UNION
    //    of single-row aggregates — no single-row cross join needed). ──────
    Q("q_funnel",
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type
        |           FROM events),
        |v AS (SELECT user_id, min(ts) AS v_ts FROM e
        |      WHERE event_type='view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type='click' AND e.ts > v.v_ts
        |        AND e.ts <= v.v_ts + INTERVAL 1 DAY GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type='purchase' AND e.ts > c.c_ts
        |        AND e.ts <= c.c_ts + INTERVAL 1 DAY GROUP BY 1)
        |SELECT stage, n FROM (
        |  SELECT '1_view' AS stage, count(*) AS n FROM v
        |  UNION ALL SELECT '2_click', count(*) FROM c
        |  UNION ALL SELECT '3_purchase', count(*) FROM p)
        |ORDER BY stage""".stripMargin) {
      (s, d) =>
        val e = events(s, d).select(col("user_id"), col("ts"), col("event_type"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v_ts"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("ts") > col("v_ts") &&
            col("ts") <= col("v_ts") + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as("c_ts"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id")
          .filter(col("ts") > col("c_ts") &&
            col("ts") <= col("c_ts") + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        v.agg(count(lit(1)).as("n")).select(lit("1_view").as("stage"), col("n"))
          .unionByName(c.agg(count(lit(1)).as("n"))
            .select(lit("2_click").as("stage"), col("n")))
          .unionByName(p.agg(count(lit(1)).as("n"))
            .select(lit("3_purchase").as("stage"), col("n")))
          .orderBy("stage")
    },

    // ── cohort retention: users cohorted by first-purchase day, counted
    //    per (cohort, day offset) they purchased again — the engagement
    //    matrix every product warehouse computes. Two key-partitioned
    //    aggregations + one join on user_id; day arithmetic is exact
    //    integer (datediff), so the matrix hash-matches bit-for-bit. ──────
    Q("q_retention",
      """WITH e AS (SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS d
        |           FROM events WHERE event_type = 'purchase'),
        |coh AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id, coh.cohort, e.d FROM e
        |        JOIN coh ON e.user_id = coh.user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  date_diff('day', cohort, d) AS day_offset,
        |  count(*) AS n_users
        |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, d) =>
        val e = events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
        val coh = e.groupBy("user_id").agg(min("d").as("cohort"))
        e.join(coh, "user_id").select("user_id", "cohort", "d").distinct()
          .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
            datediff(col("d").cast("date"), col("cohort").cast("date"))
              .cast("long").as("day_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_day", "day_offset")
    },

    // ── table profiling (the ANALYZE TABLE shape): per-column row count,
    //    null count, distinct count, lexical min/max — computed in ONE scan
    //    as a single wide aggregate (Catalyst plans the multi-distinct via
    //    Expand), then reshaped to a row per column with stack(). The
    //    DuckDB oracle spells it as a union of per-column aggregates —
    //    same result, which is the point: profile output is
    //    layout-independent. ────────────────────────────────────────────────
    Q("q_profile",
      """WITH s AS (SELECT * FROM orders)
        |SELECT col, n, n_null, n_distinct, vmin, vmax FROM (
        |  SELECT 'o_orderkey' AS col, count(*) AS n,
        |    count(*) - count(o_orderkey) AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS vmin,
        |    CAST(max(o_orderkey) AS VARCHAR) AS vmax FROM s
        |  UNION ALL SELECT 'o_custkey', count(*),
        |    count(*) - count(o_custkey), count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM s
        |  UNION ALL SELECT 'o_orderstatus', count(*),
        |    count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
        |    min(o_orderstatus), max(o_orderstatus) FROM s
        |  UNION ALL SELECT 'o_orderpriority', count(*),
        |    count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
        |    min(o_orderpriority), max(o_orderpriority) FROM s
        |) ORDER BY col""".stripMargin) {
      (s, d) =>
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")
        val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
          count(col(c)).as(s"cnt_$c"),
          count_distinct(col(c)).as(s"dst_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c")))
        val one = orders(s, d).agg(aggs.head, aggs.tail: _*)
        val stackArgs = cols.map(c =>
          s"'$c', n, n - cnt_$c, dst_$c, min_$c, max_$c").mkString(", ")
        one.selectExpr(s"stack(${cols.length}, $stackArgs) AS " +
          "(col, n, n_null, n_distinct, vmin, vmax)")
          .orderBy("col")
    },

    // ── join-cardinality estimation (the CBO primitive): per-bucket key
    //    histograms (count + distinct over 32 hash buckets — a fixed-size
    //    statistic at any table size) estimate the join output as
    //    Σ⌊ca·cb/max(da,db)⌋, compared against the exact join count. The
    //    declared ratio (1.009 at sf0.01) is the measurement a cost-based
    //    planner lives on; both sides are exact integer arithmetic. ─────────
    Q("q_join_cardinality",
      s"""WITH ha AS (SELECT
        |    ('0x' || substr(md5('jc:' || l_orderkey::VARCHAR),1,15))::BIGINT
        |      % 32 AS b,
        |    count(*) AS ca, count(DISTINCT l_orderkey) AS da
        |  FROM lineitem GROUP BY 1),
        |hb AS (SELECT
        |    ('0x' || substr(md5('jc:' || o_orderkey::VARCHAR),1,15))::BIGINT
        |      % 32 AS b,
        |    count(*) AS cb, count(DISTINCT o_orderkey) AS db
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |est AS (SELECT
        |    SUM((ha.ca * hb.cb) // greatest(ha.da, hb.db))::BIGINT AS est,
        |    count(*) AS n_buckets FROM ha JOIN hb ON ha.b = hb.b),
        |ex AS (SELECT count(*) AS exact FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey
        |       WHERE o.o_orderstatus = 'F')
        |SELECT exact, est, n_buckets,
        |  CASE WHEN exact > 0 THEN
        |    ${graft.ops.Exprs.roundDivSql("est", "exact", 6)} END AS est_ratio
        |FROM ex CROSS JOIN est""".stripMargin) {
      (s, d) =>
        def hist(df: org.apache.spark.sql.DataFrame, key: String,
            c: String, dd: String) =
          df.groupBy((md5Long(concat(lit("jc:"), col(key).cast("string")))
            % 32).as("b"))
            .agg(count(lit(1)).as(c), count_distinct(col(key)).as(dd))
        val ha = hist(lineitem(s, d), "l_orderkey", "ca", "da")
        val hb = hist(orders(s, d).filter(col("o_orderstatus") === "F"),
          "o_orderkey", "cb", "db")
        val est = ha.join(hb, "b")
          .agg(sum(expr("(ca * cb) div greatest(da, db)")).as("est"),
            count(lit(1)).as("n_buckets"))
        val exact = lineitem(s, d)
          .join(orders(s, d).filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("exact"))
        exact.crossJoin(broadcast(est))
          .select(col("exact"), col("est"), col("n_buckets"),
            // zero exact matches -> NULL on both engines (ANSI guard);
            // exact integer-arithmetic rounding (SURVEY §5.3 residual)
            when(col("exact") > 0,
              graft.ops.Exprs.roundDiv(col("est"), col("exact"), 6))
              .as("est_ratio"))
    },

    // ── Bloom-filter membership sketch (closing the sketch quartet:
    //    frequency=CMS, cardinality=HLL, quantiles, membership=Bloom): a
    //    16384-bit filter over a key subset, PACKED into 274 60-bit int64
    //    words (60 not 64: DuckDB raises on `1::BIGINT << 63`, and the
    //    probe math must be engine-identical). Build = per-word bit_or of
    //    3 hash positions per key, densified to a fixed 274-slot array on
    //    ONE row, broadcast to the probe side; probe = element_at(word) +
    //    shift + mask — O(1) per row, not an array scan. The empty-filter
    //    edge is engine-identical by construction (both sides densify via
    //    coalesce-to-zero words, so no NULL-vs-empty divergence). The
    //    declared counts carry Bloom's contract as data: n_fn is ZERO by
    //    construction (no false negatives — the property the asserting
    //    spec pins), and fp_rate is the measured cost of the shortcut. ─────
    Q("q_bloom_filter",
      s"""WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |              WHERE o_orderkey % 100 = 0),
        |bitpos AS (SELECT DISTINCT
        |    ('0x' || substr(md5('b' || h || ':' || k::VARCHAR),1,15))::BIGINT
        |      % 16384 AS b
        |  FROM keys, (SELECT unnest([0,1,2]) AS h)),
        |wordagg AS (SELECT b // 60 AS w,
        |    bit_or(1::BIGINT << (b % 60)::INT) AS word
        |  FROM bitpos GROUP BY 1),
        |words AS (SELECT list(coalesce(word, 0) ORDER BY i) AS ws
        |  FROM (SELECT unnest(range(274)) AS i) g
        |  LEFT JOIN wordagg ON g.i = wordagg.w),
        |probe AS (SELECT k,
        |    ('0x' || substr(md5('b0:' || k::VARCHAR),1,15))::BIGINT % 16384 AS b0,
        |    ('0x' || substr(md5('b1:' || k::VARCHAR),1,15))::BIGINT % 16384 AS b1,
        |    ('0x' || substr(md5('b2:' || k::VARCHAR),1,15))::BIGINT % 16384 AS b2
        |  FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem)),
        |t AS (SELECT p.k, p.k % 100 = 0 AS is_member,
        |    ((ws[(b0 // 60)::INT + 1] >> (b0 % 60)::INT) & 1) = 1
        |    AND ((ws[(b1 // 60)::INT + 1] >> (b1 % 60)::INT) & 1) = 1
        |    AND ((ws[(b2 // 60)::INT + 1] >> (b2 % 60)::INT) & 1) = 1
        |      AS bloom_pass
        |  FROM probe p CROSS JOIN words)
        |SELECT count(*) AS n_probe,
        |  count(*) FILTER (is_member) AS n_member,
        |  count(*) FILTER (bloom_pass) AS n_pass,
        |  count(*) FILTER (bloom_pass AND NOT is_member) AS n_fp,
        |  count(*) FILTER (is_member AND NOT bloom_pass) AS n_fn,
        |  CASE WHEN count(*) FILTER (NOT is_member) > 0 THEN
        |    ${graft.ops.Exprs.roundDivSql(
             "count(*) FILTER (bloom_pass AND NOT is_member)",
             "count(*) FILTER (NOT is_member)", 6)} END AS fp_rate
        |FROM t""".stripMargin) {
      (s, d) =>
        def bucket(h: Int, k: org.apache.spark.sql.Column) =
          md5Long(concat(lit(s"b$h:"), k.cast("string"))) % 16384
        val words = orders(s, d).filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("k")).distinct()
          .select(explode(array((0 to 2).map(h => bucket(h, col("k"))): _*))
            .as("bit"))
          .select(expr("bit div 60").as("w"),
            expr("shiftleft(cast(1 as bigint), cast(bit % 60 as int))").as("m"))
          .groupBy("w").agg(expr("bit_or(m)").as("word"))
          // densify the sparse (word-index, word) rows into ONE fixed-width
          // 274-slot array — the build-time linear map walk is 274² ops on
          // a single row; every probe after this is O(1)
          .agg(map_from_entries(collect_list(struct(col("w"), col("word"))))
            .as("wm"))
          .select(transform(sequence(lit(0), lit(273)),
            i => coalesce(element_at(col("wm"), i.cast("long")), lit(0L)))
            .as("ws"))
        def testBit(b: String) =
          expr(s"(shiftright(element_at(ws, cast($b div 60 as int) + 1), " +
            s"cast($b % 60 as int)) & 1) = 1")
        val probed = lineitem(s, d).select(col("l_orderkey").as("k")).distinct()
          .crossJoin(broadcast(words))
          .select(col("k"), col("ws"), bucket(0, col("k")).as("b0"),
            bucket(1, col("k")).as("b1"), bucket(2, col("k")).as("b2"))
          .select((col("k") % 100 === 0).as("is_member"),
            (testBit("b0") && testBit("b1") && testBit("b2")).as("bloom_pass"))
        probed.agg(count(lit(1)).as("n_probe"),
          count(when(col("is_member"), 1)).as("n_member"),
          count(when(col("bloom_pass"), 1)).as("n_pass"),
          count(when(col("bloom_pass") && !col("is_member"), 1)).as("n_fp"),
          count(when(col("is_member") && !col("bloom_pass"), 1)).as("n_fn"),
          // all-member probe set -> NULL on both engines (ANSI guard);
          // exact integer-arithmetic rounding (SURVEY §5.3 residual)
          when(count(when(!col("is_member"), 1)) > 0,
            graft.ops.Exprs.roundDiv(
              count(when(col("bloom_pass") && !col("is_member"), 1)),
              count(when(!col("is_member"), 1)), 6))
            .as("fp_rate"))
    },

    // ── co-purchase affinity (the collaborative-filtering primitive):
    //    item pairs sharing an order, with Jaccard affinity over each
    //    item's order sets. Pair generation is ONE shuffle by l_orderkey:
    //    groupBy(ok) + collect_set dedupes the (order, part) pairs AND
    //    yields each order's sorted item array, whose ≤ C(items,2)
    //    combinations explode map-side (items/order ~7 → ≤21 pairs/order,
    //    bounded at ANY corpus size — the market-basket join shape, never
    //    item×item). Round 9 spent three more shuffles here — a (ok,pk)
    //    distinct, then BOTH self-join sides re-shuffled by ok — and its
    //    support filter sat above the degree joins; the ×30 scalecheck
    //    read exponent 1.295 on that plan. Now the n_co ≥ 3 filter runs
    //    BEFORE the degree joins (support-3 pairs are the rare tail), so
    //    the joins see only survivors. Counts are exact; affinity is one
    //    correctly-rounded division; top-30 by (support, affinity) plans
    //    as TakeOrderedAndProject. ─────────────────────────────────────────
    Q("q_copurchase",
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_co
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |deg AS (SELECT pk, count(*) AS n_ord FROM li GROUP BY pk),
        |scored AS (SELECT p.pa, p.pb, p.n_co, da.n_ord AS na, db.n_ord AS nb,
        |    ${graft.ops.Exprs.roundDivSql("p.n_co",
             "da.n_ord + db.n_ord - p.n_co", 6)}
        |      AS jacc
        |  FROM pairs p JOIN deg da ON p.pa = da.pk JOIN deg db ON p.pb = db.pk)
        |SELECT * FROM scored WHERE n_co >= 3
        |ORDER BY n_co DESC, jacc DESC, pa, pb LIMIT 30""".stripMargin) {
      (s, d) =>
        // sorted distinct item array per order: ascending order makes
        // every emitted combination satisfy pa < pb by construction
        val byOrder = lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy("ok")
          .agg(sort_array(collect_set(col("pk"))).as("ps"))
          // ledger M19: q_copurchase 1.5× slower without its two caches
          .cache() // pair explode + degree counts both read it
        // all C(items, 2) ordered combinations of the per-order array —
        // map-side, ≤ ~21 structs per order; the per-order HOF cost is
        // trivial next to the shuffle it replaces
        val combos = flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))),
            y => struct(x.as("pa"), y.as("pb")))))
        val pairs = byOrder.select(explode(combos).as("pr"))
          .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
          .agg(count(lit(1)).as("n_co"))
        // cached: deg feeds TWO broadcast exchanges (the pa and pb sides)
        // whose children differ by a rename, so exchange reuse cannot
        // dedup them — uncached, the explode+groupBy over byOrder ran
        // twice (JobsX: two ~14 s-taskTime twin jobs, 2.9 MB shuffle
        // each). The cache is |parts| rows. (guide §2.4 remove duplicate
        // work — the bandedSharedCounts pattern)
        val deg = byOrder.select(explode(col("ps")).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("n_ord"))
          // ledger M20: q_copurchase 1.5× slower without its two caches
          .cache()
        pairs
          .filter(col("n_co") >= 3)
          .join(broadcast(deg.select(col("pk").as("pa"), col("n_ord").as("na"))), "pa")
          .join(broadcast(deg.select(col("pk").as("pb"), col("n_ord").as("nb"))), "pb")
          .select(col("pa"), col("pb"), col("n_co"), col("na"), col("nb"),
            // exact integer-arithmetic rounding (SURVEY §5.3 residual);
            // denominator >= n_co >= 3 > 0 by the support filter
            graft.ops.Exprs.roundDiv(col("n_co"),
              col("na") + col("nb") - col("n_co"), 6).as("jacc"))
          .orderBy(col("n_co").desc, col("jacc").desc, col("pa"), col("pb"))
          .limit(30)
    },

    // ── event-transition (Markov) matrix: per-user event sequences via a
    //    lead window (partitioned by user — shards at scale, no global
    //    sort), pair counts, and row-normalized transition probabilities —
    //    the user-journey model every product warehouse fits. Counts are
    //    exact; each probability is one correctly-rounded division. ────────
    Q("q_markov",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
        |             ts::TIMESTAMP AS ts FROM events),
        |s AS (SELECT user_id, event_type AS cur,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS nxt
        |      FROM e),
        |c AS (SELECT cur, nxt, count(*) AS n FROM s WHERE nxt IS NOT NULL
        |      GROUP BY 1, 2),
        |t AS (SELECT cur, SUM(n)::BIGINT AS tot FROM c GROUP BY cur)
        |SELECT c.cur, c.nxt, c.n,
        |  ${graft.ops.Exprs.roundDivSql("c.n", "t.tot", 6)} AS p
        |FROM c JOIN t ON c.cur = t.cur ORDER BY c.cur, c.nxt""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val seq = events(s, d)
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(w).as("nxt"))
        val c = seq.filter(col("nxt").isNotNull)
          .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
        val t = c.groupBy("cur").agg(sum(col("n")).as("tot"))
        c.join(t, "cur")
          .select(col("cur"), col("nxt"), col("n"),
            // exact integer-arithmetic rounding (SURVEY §5.3 residual);
            // tot >= n >= 1 so the denominator is never 0
            graft.ops.Exprs.roundDiv(col("n"), col("tot"), 6).as("p"))
          .orderBy("cur", "nxt")
    },

    // ── RFM segmentation: per-user recency/frequency/monetary metrics
    //    from purchases, median-split into 8 segments. The split bounds
    //    are ONE single-row aggregate (exact percentiles + the global max
    //    day) broadcast back — never a global ntile window over all users.
    //    Monetary rides exact DECIMAL sums; segment assignment is integer
    //    and threshold comparisons only. ──────────────────────────────────
    Q("q_rfm",
      """WITH p AS (SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS d,
        |             CAST(value AS DECIMAL(18,2)) AS v
        |           FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT user_id, max(d) AS last_d, count(*) AS f,
        |        CAST(SUM(v) AS DOUBLE) AS m, SUM(v) AS mdec
        |      FROM p GROUP BY user_id),
        |b AS (SELECT max(last_d) AS gmax,
        |        quantile_cont(f, 0.5) AS f_med,
        |        quantile_cont(m, 0.5) AS m_med
        |      FROM u),
        |r AS (SELECT user_id, date_diff('day', last_d, b.gmax) AS r_days,
        |        f, m, mdec, b.f_med, b.m_med FROM u CROSS JOIN b),
        |rb AS (SELECT *, (SELECT quantile_cont(r_days, 0.5) FROM r) AS r_med
        |       FROM r),
        |seg AS (SELECT user_id,
        |    'R' || (CASE WHEN r_days <= r_med THEN 1 ELSE 0 END)
        |    || 'F' || (CASE WHEN f > f_med THEN 1 ELSE 0 END)
        |    || 'M' || (CASE WHEN m > m_med THEN 1 ELSE 0 END) AS segment,
        |    mdec FROM rb)
        |SELECT segment, count(*) AS n_users,
        |  CAST(SUM(mdec) AS DOUBLE) AS total_m
        |FROM seg GROUP BY segment ORDER BY segment""".stripMargin) {
      (s, d) =>
        val p = events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), date_trunc("day", col("ts")).as("d"),
            col("value").cast("decimal(18,2)").as("v"))
        val u = p.groupBy("user_id")
          .agg(max("d").as("last_d"), count(lit(1)).as("f"),
            sum(col("v")).cast("double").as("m"), sum(col("v")).as("mdec"))
        val b = u.agg(max("last_d").as("gmax"),
          expr("percentile(f, 0.5)").as("f_med"),
          expr("percentile(m, 0.5)").as("m_med"))
        val r = u.crossJoin(broadcast(b))
          .select(col("user_id"),
            datediff(col("gmax").cast("date"), col("last_d").cast("date"))
              .cast("long").as("r_days"),
            col("f"), col("m"), col("mdec"), col("f_med"), col("m_med"))
        val rMed = r.agg(expr("percentile(r_days, 0.5)").as("r_med"))
        r.crossJoin(broadcast(rMed))
          .select(col("user_id"), col("mdec"),
            concat(lit("R"), when(col("r_days") <= col("r_med"), 1).otherwise(0),
              lit("F"), when(col("f") > col("f_med"), 1).otherwise(0),
              lit("M"), when(col("m") > col("m_med"), 1).otherwise(0))
              .as("segment"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_users"),
            sum(col("mdec")).cast("double").as("total_m"))
          .orderBy("segment")
    },

    // ── feature hashing (the hashing-trick encoder): tokens hash into a
    //    FIXED 64-bucket feature space — the scale replacement for one-hot
    //    encoding, whose vocabulary (and therefore shuffle width) grows
    //    with the corpus while this stays 64 columns at any size. One
    //    explode + one groupBy; declared columns are the first 8 buckets
    //    plus totals for a hash-sampled doc set. ───────────────────────────
    Q("q_feature_hash",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
        |             FROM documents),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5('fh:' || w),1,15))::BIGINT % 64 AS bkt
        |      FROM tok),
        |agg AS (SELECT doc_id,
        |    count(*) AS n_tok, count(DISTINCT bkt) AS n_buckets,
        |    count(*) FILTER (bkt = 0) AS f0, count(*) FILTER (bkt = 1) AS f1,
        |    count(*) FILTER (bkt = 2) AS f2, count(*) FILTER (bkt = 3) AS f3,
        |    count(*) FILTER (bkt = 4) AS f4, count(*) FILTER (bkt = 5) AS f5,
        |    count(*) FILTER (bkt = 6) AS f6, count(*) FILTER (bkt = 7) AS f7
        |  FROM b GROUP BY doc_id)
        |SELECT * FROM agg WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val b = documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .select(col("doc_id"),
            (md5Long(concat(lit("fh:"), col("w"))) % 64).as("bkt"))
        val aggCols = count(lit(1)).as("n_tok") +:
          count_distinct(col("bkt")).as("n_buckets") +:
          (0 to 7).map(i => count(when(col("bkt") === i, 1)).as(s"f$i"))
        b.groupBy("doc_id")
          .agg(aggCols.head, aggCols.tail: _*)
          .filter(col("doc_id") % 25 === 0)
          .orderBy("doc_id")
    },

    // ── A/B experiment readout: deterministic hash assignment into two
    //    arms (an independent md5 channel, the q_split discipline), then
    //    per-arm count / mean / variance from exact DECIMAL power sums —
    //    order-insensitive, so the statistics hash-match under any
    //    partitioning. One scan, one 2-group aggregate. ────────────────────
    Q("q_ab_test",
      """WITH e AS (SELECT
        |    ('0x' || substr(md5('ab:' || event_id::VARCHAR),1,15))::BIGINT
        |      % 2 AS grp,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT grp, count(*) AS n,
        |        CAST(SUM(v) AS DOUBLE) AS sv,
        |        CAST(SUM(v * v) AS DOUBLE) AS svv
        |      FROM e GROUP BY grp)
        |SELECT grp, n, round(sv / n, 6) AS mean,
        |  CASE WHEN n > 1 THEN round((svv - sv * sv / n) / (n - 1), 6)
        |       END AS variance
        |FROM g ORDER BY grp""".stripMargin) {
      (s, d) =>
        events(s, d).filter(col("event_type") === "purchase")
          .select(
            (md5Long(concat(lit("ab:"), col("event_id").cast("string"))) % 2)
              .as("grp"),
            col("value").cast("decimal(18,6)").as("v"))
          .groupBy("grp")
          .agg(count(lit(1)).as("n"),
            sum(col("v")).cast("double").as("sv"),
            sum(col("v") * col("v")).cast("double").as("svv"))
          .select(col("grp"), col("n"),
            round(col("sv") / col("n"), 6).as("mean"),
            // n = 1 ⇒ NULL on both engines (Spark's non-ANSI x/0 is NULL but
            // DuckDB's IEEE division yields inf/NaN; the guard keeps parity).
            when(col("n") > 1,
              round((col("svv") - col("sv") * col("sv") / col("n")) /
                (col("n") - 1), 6)).as("variance"))
          .orderBy("grp")
    },

    // ── entity resolution with deletion-neighborhood blocking (the
    //    SymSpell idea): a deterministically-corrupted registry (one
    //    hash-chosen digit of each lowercased customer name replaced by
    //    'x') is matched back to the canonical table. Each side emits FOUR
    //    masked variants (one tail digit wildcarded); candidates come from
    //    an equi-join on (mask position, masked form, nation) — block
    //    sizes are bounded by names-differing-in-one-digit at ANY corpus
    //    size, never a fraction of N — then exact Levenshtein ≤ 1
    //    adjudicates and (distance, key)-packed min resolves ties. The
    //    declared rows keep the honest failures: ~7% of corruptions are
    //    genuinely ambiguous (the destroyed digit was the only
    //    discriminator) and resolve to the wrong smaller key. ──────────────
    Q("q_entity_match",
      """WITH canon AS (SELECT c_custkey AS ck, lower(c_name) AS nm,
        |                 c_nationkey AS nk FROM customer),
        |dirty AS (SELECT ck AS dk, nk,
        |    substr(nm, 1, p - 1) || 'x' || substr(nm, p + 1) AS dn
        |  FROM (SELECT ck, nm, nk,
        |          15 + ('0x' || substr(md5('er:' || ck::VARCHAR),1,15))::BIGINT
        |            % 4 AS p
        |        FROM canon)),
        |cm AS (SELECT ck, nm, nk, i,
        |    substr(nm, 1, 14 + i) || '_' || substr(nm, 16 + i) AS msk
        |  FROM canon, (SELECT unnest([0,1,2,3]) AS i)),
        |dm AS (SELECT dk, dn, nk, i,
        |    substr(dn, 1, 14 + i) || '_' || substr(dn, 16 + i) AS msk
        |  FROM dirty, (SELECT unnest([0,1,2,3]) AS i)),
        |cand AS (SELECT DISTINCT d.dk, d.dn, c.ck, c.nm
        |  FROM dm d JOIN cm c ON d.i = c.i AND d.msk = c.msk AND d.nk = c.nk),
        |scored AS (SELECT dk, ck, levenshtein(dn, nm) AS dist FROM cand),
        |res AS (SELECT dk, count(*) AS n_cand,
        |    count(*) FILTER (dist <= 1) AS n_match,
        |    min(CASE WHEN dist <= 1 THEN dist * 100000000 + ck END)
        |      AS best_pack
        |  FROM scored GROUP BY dk)
        |SELECT dk, n_cand, n_match,
        |  coalesce(best_pack % 100000000, -1) AS best_key,
        |  coalesce(best_pack % 100000000, -1) = dk AS correct
        |FROM res WHERE dk % 10 = 0 ORDER BY dk""".stripMargin) {
      (s, d) =>
        val canon = customer(s, d).select(col("c_custkey").as("ck"),
          lower(col("c_name")).as("nm"), col("c_nationkey").as("nk"))
        val dirty = canon
          .withColumn("p",
            lit(15) + md5Long(concat(lit("er:"), col("ck").cast("string"))) % 4)
          .select(col("ck").as("dk"), col("nk"),
            expr("substr(nm, 1, CAST(p - 1 AS INT)) || 'x' || " +
              "substr(nm, CAST(p + 1 AS INT))").as("dn"))
        def masked(df: org.apache.spark.sql.DataFrame, nameCol: String) =
          df.select(col("*"), explode(array((0 until 4).map { i =>
            struct(lit(i).as("i"),
              concat(substring(col(nameCol), 1, 14 + i), lit("_"),
                expr(s"substr($nameCol, ${16 + i})")).as("msk"))
          }: _*)).as("e"))
            .select(df.columns.map(col) :+ col("e.i").as("i") :+
              col("e.msk").as("msk"): _*)
        val cm = masked(canon, "nm")
        val dm = masked(dirty, "dn")
        val cand = dm.join(cm, Seq("i", "msk", "nk"))
          .select(col("dk"), col("dn"), col("ck"), col("nm")).distinct()
        cand.select(col("dk"), col("ck"),
          levenshtein(col("dn"), col("nm")).as("dist"))
          .groupBy("dk")
          .agg(count(lit(1)).as("n_cand"),
            count(when(col("dist") <= 1, 1)).as("n_match"),
            min(when(col("dist") <= 1,
              col("dist") * 100000000L + col("ck"))).as("best_pack"))
          .filter(col("dk") % 10 === 0)
          .select(col("dk"), col("n_cand"), col("n_match"),
            coalesce(col("best_pack") % 100000000L, lit(-1L)).as("best_key"),
            (coalesce(col("best_pack") % 100000000L, lit(-1L)) === col("dk"))
              .as("correct"))
          .orderBy("dk")
    },

    // ── join-key skew diagnostic: per-candidate-key group-size statistics
    //    (key count, max/median/p99 group size, skew ratio) — the profile a
    //    planner reads BEFORE choosing between a plain shuffle join,
    //    salting (q_salted_join), or AQE skew splitting. One scan: the
    //    three key columns explode to (key_col, k) rows (the oracle spells
    //    it as UNION ALL — result-identical), then two key-partitioned
    //    aggregations. skew_ratio = max/median group size; l_suppkey's
    //    ~1.1 says uniform, a hot key would spike it. ──────────────────────
    Q("q_skew_metrics",
      s"""WITH lk AS (SELECT 'l_orderkey' AS key_col, l_orderkey AS k
        |            FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
        |g AS (SELECT key_col, k, count(*) AS c FROM lk GROUP BY 1, 2),
        |st AS (SELECT key_col, count(*) AS n_keys, SUM(c)::BIGINT AS n_rows,
        |         max(c) AS max_group, quantile_cont(c, 0.5) AS p50_group,
        |         quantile_cont(c, 0.99) AS p99_group
        |       FROM g GROUP BY 1)
        |SELECT key_col, n_keys, n_rows, max_group,
        |  round(p50_group, 6) AS p50_group, round(p99_group, 6) AS p99_group,
        |  ${graft.ops.Exprs.roundDivSql("2*max_group",
             "CAST(2*p50_group AS BIGINT)", 6)} AS skew_ratio
        |FROM st ORDER BY key_col""".stripMargin) {
      (s, d) =>
        val lk = lineitem(s, d).select(explode(array(
          struct(lit("l_orderkey").as("key_col"), col("l_orderkey").as("k")),
          struct(lit("l_partkey").as("key_col"), col("l_partkey").as("k")),
          struct(lit("l_suppkey").as("key_col"), col("l_suppkey").as("k"))))
          .as("e"))
          .select(col("e.key_col").as("key_col"), col("e.k").as("k"))
        lk.groupBy("key_col", "k").agg(count(lit(1)).as("c"))
          .groupBy("key_col")
          .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
            max(col("c")).as("max_group"),
            expr("percentile(c, 0.5)").as("p50"),
            expr("percentile(c, 0.99)").as("p99"))
          .select(col("key_col"), col("n_keys"), col("n_rows"),
            col("max_group"),
            round(col("p50"), 6).as("p50_group"),
            round(col("p99"), 6).as("p99_group"),
            // exact integer-arithmetic rounding (SURVEY §5.3 residual):
            // the median of integer group sizes is k or k+0.5, so 2·p50
            // is an exact integer — max/p50 = 2·max / 2·p50 exactly
            graft.ops.Exprs.roundDiv(col("max_group") * 2,
              (col("p50") * 2).cast("long"), 6).as("skew_ratio"))
          .orderBy("key_col")
    },

    // ── distribution-drift gate: KL divergence of each source's token
    //    distribution from the corpus distribution — the domain-shift
    //    monitor a curation pipeline runs per ingest batch. Two
    //    key-partitioned groupBys + one join on token; per-term
    //    contributions round to 9 decimals and accumulate in DECIMAL (the
    //    q_tfidf ln-ulp discipline), so the per-source divergence
    //    hash-matches. ─────────────────────────────────────────────────────
    Q("q_drift",
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS w
        |             FROM documents),
        |src AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |stot AS (SELECT source, SUM(c)::BIGINT AS n FROM src GROUP BY 1),
        |gw AS (SELECT w, count(*) AS g FROM tok GROUP BY 1),
        |gtot AS (SELECT count(*) AS m FROM tok),
        |terms AS (SELECT s.source,
        |    CAST(round((s.c / CAST(st.n AS DOUBLE)) *
        |      ln((s.c / CAST(st.n AS DOUBLE)) / (g.g / CAST(gt.m AS DOUBLE))),
        |      9) AS DECIMAL(18,9)) AS t
        |  FROM src s JOIN stot st ON s.source = st.source
        |  JOIN gw g ON s.w = g.w CROSS JOIN gtot gt)
        |SELECT source, count(*) AS n_terms,
        |  CAST(round(SUM(t), 6) AS DOUBLE) AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
        val tok = documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        val src = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
        val stot = src.groupBy("source").agg(sum(col("c")).as("n"))
        val gw = tok.groupBy("w").agg(count(lit(1)).as("g"))
        val gtot = tok.agg(count(lit(1)).as("m"))
        val pS = col("c") / col("n").cast("double")
        val pG = col("g") / col("m").cast("double")
        src.join(stot, "source").join(gw, "w").crossJoin(broadcast(gtot))
          .select(col("source"),
            round(pS * log(pS / pG), 9).cast("decimal(18,9)").as("t"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_terms"),
            // round the DECIMAL sum directly (HALF_UP is exact on decimals
            // in both engines), THEN cast — rounding the double detour is
            // the §5.3 .5-tie residual
            round(sum(col("t")), 6).cast("double").as("kl"))
          .orderBy("source")
    },

    // ── time-series gap-fill: per-user daily resample of events with
    //    forward-fill (last observation carried forward) — the telemetry
    //    regularization step before any training on sensor/metric series.
    //    The day spine is generated per key with sequence() (bounded by the
    //    key's own [min,max] span — never a global calendar cross join);
    //    the fill is the two-window idiom (cumulative non-null count forms
    //    carry groups, max-per-group propagates the value) — both windows
    //    partition by user, so at scale they shard per key with no global
    //    sort. Daily values are exact DECIMAL sums; the filled value is a
    //    bit-exact copy of them. ──────────────────────────────────────────
    Q("q_gapfill",
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
        |           WHERE user_id % 100 = 0),
        |daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |            SUM(CAST(value AS DECIMAL(18,6))) AS dv, count(*) AS n
        |          FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |         FROM daily GROUP BY 1),
        |spine AS (SELECT user_id,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |  FROM span),
        |j AS (SELECT sp.user_id, sp.day, d.dv, coalesce(d.n, 0) AS n
        |      FROM spine sp LEFT JOIN daily d
        |        ON sp.user_id = d.user_id AND sp.day = d.day),
        |g AS (SELECT *, count(dv) OVER (PARTITION BY user_id ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |      FROM j)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n,
        |  CAST(max(dv) OVER (PARTITION BY user_id, grp) AS DOUBLE) AS filled,
        |  dv IS NULL AS is_gap
        |FROM g ORDER BY user_id, day""".stripMargin) {
      (s, d) =>
        val e = events(s, d).filter(col("user_id") % 100 === 0)
        val daily = e
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(sum(col("value").cast("decimal(18,6)")).as("dv"),
            count(lit(1)).as("n"))
        val spine = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"), explode(
            sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
        val dailyR = daily.select(col("user_id").as("u2"),
          col("day").as("day2"), col("dv"), col("n"))
        val j = spine.join(dailyR,
          col("user_id") === col("u2") && col("day") === col("day2"), "left")
          .select(col("user_id"), col("day"), col("dv"),
            coalesce(col("n"), lit(0L)).as("n"))
        val cum = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        j.withColumn("grp", count(col("dv")).over(cum))
          .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"),
            max(col("dv")).over(Window.partitionBy(col("user_id"), col("grp")))
              .cast("double").as("filled"),
            col("dv").isNull.as("is_gap"))
          .orderBy("user_id", "day")
    }
  )
}
