package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy coverage-driven candidate selection — the one genuinely
  * non-relational operator in the reference (`main.py:277-279`, SURVEY.md
  * §7.4): walk candidates in coverage-rank order and stop once at least
  * `minUsed` candidates are taken AND all `targets` are covered.
  *
  * One window encoding, [[greedyWindow]], over per-row input that already
  * carries each candidate's rank. It serves both callers:
  *   - the flagship pipeline's walk over its valid measurement rows, inside
  *     the one lazy plan, with no collect and no cache;
  *   - [[greedyPrefix]], the declared query `q_greedy_prefix`, over the
  *     distinct (group, candidate, event type) rows of `events`.
  */
object Selection {

  val DefaultTargets: Seq[String] = Seq("click", "view", "purchase", "signup")

  /** Relational greedy prefix over `events`-shaped input (grp = user_id % 5,
    * candidate = user_id, parameter = event_type). Output: one row per
    * candidate in the selected prefix with its rank and cumulative coverage.
    */
  def greedyPrefix(
      events: DataFrame,
      targets: Seq[String] = DefaultTargets,
      minUsed: Int = 3): DataFrame = {
    // the distinct (grp, candidate, parameter) rows; A1/O2 analog as
    // windows over them: a candidate's row count IS countDistinct of its
    // in-target event types (so m > 0), and (m, user_id) is one key per
    // candidate, so dense_rank numbers candidates as row_number would
    val byCand = Window.partitionBy("grp", "user_id")
    val ranked = events.filter(col("event_type").isin(targets.map(x => x: Any): _*))
      .select((col("user_id") % 5).as("grp"), col("user_id"),
        col("event_type").as("pname"))
      .distinct()
      .withColumn("m", count(lit(1)).over(byCand))
      .withColumn("rank", dense_rank().over(Window.partitionBy("grp")
        .orderBy(col("m").desc, col("user_id"))).cast("long"))
    // every candidate emits in-target rows, so the walk's `covered` is the
    // cumulative distinct coverage up to each rank
    greedyWindow(ranked, targets.toSet, minUsed, group = "grp")
      .select(col("grp"), col("rank"), col("user_id"),
        col("covered").cast("long").as("cum_cov"))
      .distinct()
      .orderBy("grp", "rank")
  }

  /** Greedy walk (`main.py:220-279`) as windows over per-row input. Each
    * row of `rows` belongs to one candidate and carries the candidate's
    * `group` (default `city`), its `rank` within the group and one
    * parameter `pname` it emitted. The result keeps the rows of the
    * selected prefix, with the input's columns plus `covered`:
    *   - `used` = `dense_rank()` over (group ORDER BY rank): candidates with
    *     rows up to and including this one (`main.py:273-274`);
    *   - `covered` = distinct target params over the same RANGE frame, so
    *     the peer rows of one candidate share it (`main.py:270`);
    *   - the stop rank is the first rank where `used ≥ minUsed` and every
    *     target is covered; no stop rank keeps the whole group.
    *
    * Exact against the walk that visits every ranked candidate but counts
    * only those that emitted something: a candidate without rows moves
    * neither `used` nor `covered`, so the first satisfying rank is always a
    * candidate with rows, and only such candidates reach the output. That
    * argument needs `minUsed ≥ 1` (with 0 the walk could stop on a row-less
    * first candidate).
    */
  def greedyWindow(rows: DataFrame, targets: Set[String], minUsed: Int,
      group: String = "city"): DataFrame = {
    require(minUsed >= 1, s"greedyWindow: minUsed must be >= 1, got $minUsed")
    val byGroup = Window.partitionBy(group)
    val byRank = byGroup.orderBy("rank")
    val upToHere = byRank.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val inTarget = col("pname").isin(targets.toSeq: _*)
    rows
      .withColumns(Map(
        "_used" -> dense_rank().over(byRank),
        "covered" -> size(collect_set(when(inTarget, col("pname"))).over(upToHere))))
      .withColumn("_stop", min(when(col("_used") >= minUsed &&
        col("covered") >= targets.size, col("rank"))).over(byGroup))
      .filter(col("_stop").isNull || col("rank") <= col("_stop"))
      .drop("_used", "_stop")
  }
}
