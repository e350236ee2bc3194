package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The driver loops' one module: how a loop carries its state from round
  * to round, and how a loop reports its progress.
  *
  * Every loop (q_pagerank, q_bfs, q_kmeans, q_bpe, q_bpe_heldout and
  * [[ConnectedComponents]]) is named by its query, and its observations
  * follow one scheme, the way Structured Streaming gives every query one
  * progress record of the same shape:
  *   - `<loop>_round_<n>` is round n's per-round statistics, observed on
  *     the round's own checkpoint job (rounds count from 1; a loop's
  *     initial state may observe round 0);
  *   - `<loop>_convergence` rides the loop's result plan with the fields
  *     `iterations`, `final_change` and `converged` (1 or 0).
  *
  * Two loops in one plan must carry distinct names: Spark refuses a plan
  * with two `CollectMetrics` nodes of one name (`DUPLICATED_METRICS_NAME`).
  */
object Loop {

  /** Materialize a loop-carried frame and cut it from its lineage and its
    * size estimate.
    *
    * The lineage cut keeps every round's plan constant-size. The estimate
    * cut is not optional: `localCheckpoint` carries the pre-cut plan's
    * `Statistics` across the cut, and a round that joins the carried frame
    * with itself (ConnectedComponents' pointer doubling, q_pagerank's
    * ranks⋈contribs, q_kmeans' assign⋈cent) multiplies the estimate into
    * itself every round. The BigInt's digit count then doubles per round,
    * and past ~16 rounds Catalyst's stats visitor hangs multiplying
    * million-digit integers (pinned by CcLongChainSpec). Dropping the
    * origin stats resets the estimate to the leaf default each round: the
    * conservative choice for loop state (a carried frame is never
    * broadcast on a stale estimate), and AQE still re-plans from runtime
    * sizes.
    *
    * `eager = false` materializes inside the next action that reads the
    * frame instead of in a job of its own (q_bpe's one-job rounds).
    */
  def carry(df: DataFrame, eager: Boolean = true): DataFrame =
    org.apache.spark.sql.graft.bridge.dropOriginStats(df.localCheckpoint(eager))

  /** One loop round: observe `metrics` as `<loop>_round_<n>` over `staged`,
    * project to `keep`, and [[carry]] the result. The observation rides
    * the checkpoint's own job, so a round runs one action; columns that
    * feed only the metrics are projected away before the checkpoint.
    *
    * @return the next loop-carried frame and the round's observed row
    */
  def round(loop: String, n: Int, staged: DataFrame, keep: Column*)(
      metrics: Column*): (DataFrame, Row) = {
    val name = s"${loop}_round_$n"
    val kept = staged.observe(name, metrics.head, metrics.tail: _*)
      .select(keep: _*)
    val next = carry(kept)
    (next, kept.queryExecution.observedMetrics(name))
  }

  /** The loop's progress record, `<loop>_convergence`, as a
    * `CollectMetrics` node on its result plan: any consumer reads
    * iterations, the last round's change and whether the loop converged
    * after an action, instead of trusting stderr silence. The counters are
    * driver scalars by now, so the literals are exact.
    */
  def report(df: DataFrame, loop: String, iterations: Int, finalChange: Long,
      converged: Boolean): DataFrame =
    df.observe(s"${loop}_convergence",
      max(lit(iterations)).cast("long").as("iterations"),
      max(lit(finalChange)).as("final_change"),
      max(lit(if (converged) 1L else 0L)).as("converged"))

  /** The loop-invariant edge side of a graph loop, laid out for the
    * per-round join on `src`: `side` hash-partitioned by `src`, sorted
    * within partitions, and cached. A cache, not a checkpoint: the cached
    * relation keeps its child's partitioning and ordering and carries real
    * size stats, so every round reads it in place (a sort-merge join over
    * the baked layout, or a broadcast when small) and the edge table
    * shuffles once per query, not once per round. A checkpointed
    * `repartition` lost that layout under AQE and re-shuffled the edges
    * every round.
    *
    * The partition count follows the edge count (one partition per ~2M
    * edges), capped at the session's shuffle parallelism; counting
    * `edges` (the query's edge checkpoint) is one job.
    */
  def edgeSide(edges: DataFrame, side: DataFrame): DataFrame = {
    val parts = math.max(1L, math.min(
      edges.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      edges.count() >> 21)).toInt
    // ledger M03: q_pagerank 67 → 96 jobs without it
    side.repartition(parts, col("src")).sortWithinPartitions("src").cache()
  }
}
