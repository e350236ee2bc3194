package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy coverage-driven candidate selection — the one genuinely
  * non-relational operator in the reference (`main.py:277-279`, SURVEY.md
  * §7.4): walk candidates in coverage-rank order and stop once at least
  * `minUsed` candidates are taken AND all `targets` are covered.
  *
  * Two window encodings:
  *   - [[greedyPrefix]]: events-shaped input (cumulative first-coverage
  *     flags), the declared query `q_greedy_prefix` — one window shuffle,
  *     scales to any number of groups because state lives per-(group,rank)
  *     row;
  *   - [[greedyWindow]]: the flagship pipeline's walk over its valid
  *     measurement rows, each already carrying its candidate's rank — the
  *     whole selection stays inside the one lazy plan, with no collect and
  *     no cache.
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
    val inTarget = col("event_type").isin(targets.map(x => x: Any): _*)

    // ONE events scan: the distinct (grp, candidate, parameter) set feeds
    // BOTH the coverage ranking (a count over it IS countDistinct of the
    // original rows) and the first-coverage flags — cached because three
    // downstream branches read it.
    val pairs = events.filter(inTarget)
      .select((col("user_id") % 5).as("grp"), col("user_id"), col("event_type"))
      .distinct()
      .cache()

    // candidates + coverage-count ranking (A1/O2 analog); every pairs row
    // is a distinct in-target parameter, so m > 0 by construction
    val cand = pairs.groupBy("grp", "user_id")
      .agg(count(lit(1)).as("m"))
    val ranked = cand.withColumn("rank",
      row_number().over(Window.partitionBy("grp")
        .orderBy(col("m").desc, col("user_id"))).cast("long"))

    // each parameter's FIRST covering candidate flagged; per-candidate
    // count of newly covered parameters
    val firsts = pairs
      .join(ranked.select("grp", "user_id", "rank"), Seq("grp", "user_id"))
      .withColumn("is_first",
        when(row_number().over(Window.partitionBy("grp", "event_type")
          .orderBy("rank")) === 1, 1).otherwise(0))
    val perCand = firsts.groupBy("grp", "user_id", "rank")
      .agg(sum("is_first").as("new_types"))

    // cumulative coverage along the rank order; stop at the first rank
    // satisfying both conditions; keep the prefix. Cached: `stop` and the
    // final prefix filter both read it, and it is one row per candidate —
    // without the cache the two scans + join + three windows above run
    // twice.
    val cum = perCand.withColumn("cum_cov",
      sum("new_types").over(Window.partitionBy("grp").orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .cache()
    // distinct: cum_cov counts distinct covered types, so a duplicated
    // entry in `targets` must not inflate the required coverage
    val stop = cum
      .filter(col("cum_cov") >= targets.distinct.size && col("rank") >= minUsed)
      .groupBy("grp").agg(min("rank").as("stop_rank"))
    cum.join(broadcast(stop), Seq("grp"), "left")
      .filter(col("rank") <= coalesce(col("stop_rank"), lit(Long.MaxValue)))
      .select(col("grp"), col("rank"), col("user_id"),
        col("cum_cov").cast("long").as("cum_cov"))
      .orderBy("grp", "rank")
  }

  /** Greedy walk (`main.py:220-279`) as windows over per-row input. Each
    * row of `rows` belongs to one candidate and carries the candidate's
    * `city`, its `rank` within the city and one parameter `pname` it
    * emitted. The result keeps the rows of the selected prefix, with the
    * input's columns:
    *   - `used` = `dense_rank()` over (city ORDER BY rank): candidates with
    *     rows up to and including this one (`main.py:273-274`);
    *   - `covered` = distinct target params over the same RANGE frame, so
    *     the peer rows of one candidate share it (`main.py:270`);
    *   - the stop rank is the first rank where `used ≥ minUsed` and every
    *     target is covered; no stop rank keeps the whole city.
    *
    * Exact against the walk that visits every ranked candidate but counts
    * only those that emitted something: a candidate without rows moves
    * neither `used` nor `covered`, so the first satisfying rank is always a
    * candidate with rows, and only such candidates reach the output. That
    * argument needs `minUsed ≥ 1` (with 0 the walk could stop on a row-less
    * first candidate).
    */
  def greedyWindow(rows: DataFrame, targets: Set[String], minUsed: Int): DataFrame = {
    require(minUsed >= 1, s"greedyWindow: minUsed must be >= 1, got $minUsed")
    val byCity = Window.partitionBy("city")
    val byRank = byCity.orderBy("rank")
    val upToHere = byRank.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val inTarget = col("pname").isin(targets.toSeq: _*)
    rows
      .withColumn("_used", dense_rank().over(byRank))
      .withColumn("_covered", size(collect_set(when(inTarget, col("pname"))).over(upToHere)))
      .withColumn("_stop", min(when(col("_used") >= minUsed &&
        col("_covered") >= targets.size, col("rank"))).over(byCity))
      .filter(col("_stop").isNull || col("rank") <= col("_stop"))
      .drop("_used", "_covered", "_stop")
  }
}
