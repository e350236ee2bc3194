package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label connected components over an undirected edge list — the
  * clustering step of near-duplicate dedup: candidate pairs (MinHash bands,
  * SimHash blocks, Jaccard threshold) form a graph; each component is one
  * duplicate cluster and its minimum doc id is the canonical survivor.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round, a node's label becomes the min of its own and
  * all neighbors' labels; stop when a round changes nothing. Rounds are
  * bounded by the graph diameter (duplicate clusters are near-cliques, so
  * 2–3 rounds in practice). Each round is one shuffle join + one
  * aggregation — the driver holds only the loop counter and a changed-row
  * count, never data. At corpus scale the same loop runs with the edges
  * bucketed by node; the alternating large-star/small-star optimization
  * drops in here if diameters grow, without changing the contract.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame (a, b) of undirected edges; node ids
    *              are longs.
    * @param driverEdgeLimit when the edge list fits under this bound, run a
    *              driver-side union-find instead of the iterative join loop.
    *              Near-dup candidate graphs are tiny relative to the corpus
    *              (LSH banding emits pairs, not the cross product), so this
    *              is the common case — same adaptive philosophy as the
    *              bounded greedy-selection collect (SURVEY §7.4): collect
    *              only what is bounded by construction. Set to 0 to force
    *              the distributed path (the equivalence spec does).
    *
    *              DRIVER-MEMORY CONTRACT (raise the limit consciously): the
    *              probe holds `limit+1` GenericRows of two boxed Longs
    *              (~120 B each with row + array + boxing overhead), and the
    *              union-find re-materializes them as an `Array[(Long,
    *              Long)]` (~56 B each) plus a LongMap of ≤ 2·limit entries
    *              (~32 B/entry) — altogether ≲ 250 B per edge, i.e. ~250 MB
    *              at the 1M default, peaking while BOTH the probe rows and
    *              the tuple array are live. A 10× limit needs ~2.5 GB of
    *              driver headroom; past that, let the distributed
    *              pointer-doubling fallback do its job instead.
    * @param loop the loop's observation name ([[Loop]]): the calling
    *              query's name, distinct per call when one query runs
    *              two component loops into one plan.
    * @return (node, component) — component = min node id reachable.
    */
  def components(
      edges: DataFrame,
      loop: String,
      maxIter: Int = 20,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    // cache the edge list: the path probe consumes it once, and on
    // overflow the distributed loop reads it twice more (symmetric
    // closure) — without the cache the upstream candidate-generation
    // pipeline (hashing, banding, self-join) would run three times
    // ledger M01: the distributed path (> 1M edges) reads the edges three times
    val e0 = edges.toDF("a", "b").cache()
    try {
      if (driverEdgeLimit > 0 && driverEdgeLimit < Int.MaxValue) {
        // take(limit+1) decides the path AND fetches the rows in one job —
        // no separate count() materialization of the candidate pipeline.
        val probe = e0.take(driverEdgeLimit.toInt + 1)
        if (probe.length <= driverEdgeLimit) {
          return driverUnionFind(spark,
            probe.map(r => (r.getLong(0), r.getLong(1))))
        }
      }
      distributedComponents(e0, loop, maxIter)
    } finally e0.unpersist()
  }

  /** Path-compressed union-find over a collected edge list; component label
    * = min node id, matching the distributed loop exactly.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(n => (n, find(n))).toSeq.toDF("node", "component")
  }

  private def distributedComponents(edges: DataFrame, loop: String,
      maxIter: Int): DataFrame = {
    val e = edges
    // symmetric closure once; reused by every round
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      .distinct()
      // ledger M02: every round of the distributed loop reads it
      .cache()
    // Iterative frames MUST truncate lineage each round: `labels` is
    // referenced four times per iteration, so the logical plan would grow
    // ~4× per round and analysis/printing blows up long before the data
    // does. Loop.carry materializes the partitions AND cuts the plan and
    // its size estimate back to a leaf.
    var labels = Loop.carry(sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node")))
    var converged = false
    var iter = 0
    var lastChanged = -1L
    while (!converged && iter < maxIter) {
      // Two propagation channels per round:
      //  (a) neighbor min — for each edge (u,v), v's label reaches u;
      //  (b) pointer doubling — u also adopts the label OF its label
      //      (lbl is always itself a node of the graph, so the self-join
      //      is total). Doubling halves the remaining path each round:
      //      convergence in O(log diameter) rounds instead of O(diameter),
      //      which is what makes the per-round job overhead tolerable and
      //      the algorithm usable on long chains at scale.
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "v")
          .withColumnRenamed("lbl", "nlbl"), Seq("v"))
        .groupBy(col("u").as("node"))
        .agg(min("nlbl").as("minNbr"))
      val viaPointer = labels
        .join(labels.select(col("node").as("lbl"), col("lbl").as("jump")),
          Seq("lbl"))
        .select(col("node"), col("jump"))
      // ONE action per round: the old label is already in the round's plan,
      // so the changed-count rides the checkpoint's execution as a
      // CollectMetrics observation — no second join-and-count job. The old
      // column feeds only the observation and is projected away before the
      // checkpoint, so the materialized label vector stays two columns.
      val staged = labels
        .join(viaNeighbors, Seq("node"), "left")
        .join(viaPointer, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("minNbr"), col("lbl")),
            coalesce(col("jump"), col("lbl"))).as("newLbl"),
          col("lbl").as("old"))
      iter += 1
      // the previous round's checkpoint blocks are freed by the
      // ContextCleaner once the old frame becomes unreachable here
      val (next, m) = Loop.round(loop, iter, staged,
        col("node"), col("newLbl").as("lbl"))(
        coalesce(sum(when(col("newLbl") =!= col("old"), 1L)), lit(0L))
          .as("n"))
      labels = next
      lastChanged = m.getAs[Long]("n")
      converged = lastChanged == 0
    }
    sym.unpersist()
    if (!converged)
      System.err.println(s"[graft] ConnectedComponents: NOT converged " +
        s"after $maxIter rounds — labels are partially propagated")
    // `labels` is already materialized (eager checkpoint); the final
    // projection reads those blocks, so nothing upstream is recomputed.
    Loop.report(labels.select(col("node"), col("lbl").as("component")),
      loop, iter, lastChanged, converged)
  }
}
