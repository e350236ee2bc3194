package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Scan-path regression guard: the §2.1/§2.3 claim that filters and
  * projections reach the parquet reader (Relational.scala scale notes) is
  * pinned here the same way SimilarityPlanSpec pins the bucket join — a
  * refactor that breaks pushdown (e.g. a UDF wrapping the predicate, or a
  * repartition slipped between scan and filter) fails this spec, not just
  * the bench.
  */
class PushdownSpec extends SparkTestBase {

  /** All `PushedFilters: [...]` groups of the formatted physical plan. */
  private def pushedFilters(df: DataFrame): Seq[String] =
    "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      .map(_.group(1)).toSeq

  private def readSchemas(df: DataFrame): Seq[String] =
    "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      .map(_.group(1)).toSeq

  test("q_conj_filter: conjunctive predicates are pushed to the part scan") {
    val df = SparkEntry.queries("q_conj_filter")(spark, sfDir)
    val pushed = pushedFilters(df)
    assert(pushed.exists(g => g.contains("p_size") && g.contains("p_type")),
      s"filters not pushed to scan: $pushed")
    // column pruning: the scan reads only the four referenced columns
    val schemas = readSchemas(df)
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("p_comment") && !s.contains("p_retailprice")),
      s"scan reads unreferenced columns: $schemas")
  }

  test("q_fresh_station: scans are pruned to the referenced columns") {
    // The freshness predicate itself CANNOT push here — it compares a
    // computed column (µs truncation of the NANOS-as-long ts) against a
    // join-dependent cutoff (max(ts) − 7d subquery), so it lives above the
    // broadcast join by construction. The scan-path claim that must hold is
    // pruning: events has 6 columns, both scans read ≤ 2.
    val df = SparkEntry.queries("q_fresh_station")(spark, sfDir)
    val schemas = readSchemas(df)
    assert(schemas.nonEmpty && schemas.forall(s => s.split(",").length <= 2),
      s"events scan reads unreferenced columns: $schemas")
    assert(schemas.forall(s => !s.contains("props") && !s.contains("event_type")),
      s"events scan reads unreferenced columns: $schemas")
  }

  test("freshness predicate over a native timestamp column pushes to the scan") {
    // The production form of F1 — a literal cutoff over a parquet TIMESTAMP
    // column — reaches the reader as a pushed filter (at 100 TB this is
    // row-group min/max skipping). q_fresh_station can't show this (its
    // cutoff is data-derived for oracle determinism), so pin it directly.
    val cutoff = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    val df = graft.model.Tables.lineitem(spark, sfDir)
      .filter(graft.ops.Exprs.freshDropNull(
        org.apache.spark.sql.functions.col("l_shipdate"),
        org.apache.spark.sql.functions.lit(cutoff)))
      .select("l_orderkey")
    val pushed = pushedFilters(df)
    assert(pushed.exists(_.contains("l_shipdate")),
      s"freshness filter not pushed to scan: $pushed")
  }

  test("q_isin: membership predicate is pushed to the lineitem scan") {
    val df = SparkEntry.queries("q_isin")(spark, sfDir)
    val pushed = pushedFilters(df)
    assert(pushed.exists(_.contains("l_returnflag")),
      s"In-filter not pushed to scan: $pushed")
  }

  test("q_flagship_analog: membership filter pushed, events scan pruned") {
    val df = SparkEntry.queries("q_flagship_analog")(spark, sfDir)
    val pushed = pushedFilters(df)
    assert(pushed.exists(_.contains("event_type")),
      s"event_type In-filter not pushed to scan: $pushed")
    val schemas = readSchemas(df)
    // events has 6 columns; the pipeline references 4 (ts, user_id,
    // event_type, value) — props and event_id must never be read
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("props") && !s.contains("event_id")),
      s"events scan reads unreferenced columns: $schemas")
  }

  test("q_partition_prune: the status filter prunes partitions at planning") {
    val df = graft.queries.Sinks.prunedOrdersScan(spark, sfDir)
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the filter must appear as a PartitionFilters entry on the scan (prunes
    // directories), not merely as a data filter evaluated per row
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(_.contains("o_orderstatus")),
      s"o_orderstatus not in PartitionFilters: $plan")
  }

  test("q_retention/q_funnel: event-type equality pushes to the events scan") {
    Seq("q_retention", "q_funnel").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val pushed = pushedFilters(df)
      assert(pushed.exists(_.contains("event_type")),
        s"$q: event_type filter not pushed to scan: $pushed")
      val schemas = readSchemas(df)
      assert(schemas.nonEmpty && schemas.forall(s =>
        !s.contains("props") && !s.contains("value")),
        s"$q: events scan reads unreferenced columns: $schemas")
    }
  }

  test("q_mv_refresh: delta scan reads only the three referenced columns") {
    val df = SparkEntry.queries("q_mv_refresh")(spark, sfDir)
    val schemas = readSchemas(df)
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("o_orderstatus") && !s.contains("o_orderpriority")),
      s"orders scan reads unreferenced columns: $schemas")
  }

  test("q_sample_stratified: documents scan reads only id and lang") {
    val df = SparkEntry.queries("q_sample_stratified")(spark, sfDir)
    val schemas = readSchemas(df)
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("text") && !s.contains("n_chars") && !s.contains("source")),
      s"documents scan reads unreferenced columns: $schemas")
  }

  // ── Join-side pins for the analytics tier (BucketingSpec's AQE-unwrap
  //    technique): the queries below DECLARE a broadcast or bounded side;
  //    a future edit that silently plans a full shuffle where a broadcast
  //    belongs must fail here, not surface as a bench regression. ──────────

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize every stage
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++
      p.collect { case q: QueryStageExec => collectAll(q.plan)(pf) }.flatten ++
      p.collect { case r: ReusedExchangeExec => collectAll(r.child)(pf) }.flatten ++
      p.subqueries.flatMap(collectAll(_)(pf))

  test("q_copurchase: both degree joins broadcast the per-part counts") {
    val plan = finalPlan(SparkEntry.queries("q_copurchase")(spark, sfDir))
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.count(j => j.leftKeys.exists(k =>
      k.toString.contains("pa") || k.toString.contains("pb"))) >= 2,
      s"deg joins did not broadcast: ${bhj.map(_.leftKeys)}")
    // the pair self-join on ok is ALLOWED to sort-merge (fact⋈fact); the
    // deg joins on pa/pb are not
    val smj = collectAll(plan) { case j: SortMergeJoinExec => j }
    assert(!smj.exists(j => j.leftKeys.exists(k =>
      k.toString.contains("pa") || k.toString.contains("pb"))),
      s"a deg join planned as sort-merge: ${smj.map(_.leftKeys)}")
  }

  test("q_rfm: the percentile-bounds join is a broadcast of ONE row") {
    val plan = finalPlan(SparkEntry.queries("q_rfm")(spark, sfDir))
    val bnlj = collectAll(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty,
      "bounds join is not a broadcast nested-loop over the single-row aggregate")
    val smj = collectAll(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"q_rfm planned a sort-merge join where only broadcasts belong: $smj")
  }

  // ── Snapshot scan: the reference's server-side query params
  //    (`main.py:107-119` — iso/monitor/mobile filter before any row leaves
  //    the server) as filters pushed into Spark's JSON file scan. ─────────
  test("snapshot source: filters land in the JSON scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{BooleanType, StringType}
    val base = new java.io.File("fixtures/snapshots").getAbsolutePath
    // S2's full server surface: the snapshot schema extended with the
    // iso/monitor/mobile params (absent in payloads → null columns)
    val schema = graft.sources.Snapshots.locationSchema
      .add("iso", StringType).add("monitor", BooleanType)
      .add("mobile", BooleanType)
    def read() = spark.read.schema(schema).json(s"$base/locations.jsonl")
    val df = read().filter(col("city") === "Warsaw").select("city", "id")
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one snapshot scan, got ${scans.size}")
    // 1. the equality is pushed into the scan (a residual Spark-side
    //    Filter above it is allowed: the JSON reader re-checks rows)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(city,Warsaw)"),
      s"city filter not pushed into the snapshot scan: $pushed")
    // 2. column pruning reaches the scan
    val cols = scans.head.requiredSchema.fieldNames.toSet
    assert(cols == Set("city", "id"), s"scan not pruned: $cols")
    // 3. pushdown result == the same predicate evaluated on the driver
    //    over the unfiltered source (the correctness half of the contract)
    val pushedRows = df.collect().map(_.getLong(1)).sorted.toSeq
    val driverSide = read().select("city", "id").collect()
      .filter(_.getString(0) == "Warsaw").map(_.getLong(1)).sorted.toSeq
    assert(pushedRows == driverSide && pushedRows.nonEmpty,
      s"pushed=$pushedRows driverSide=$driverSide")
    // 4. a pushed filter on a server-side param the snapshot never carried
    //    (monitor is null everywhere) matches NO row — the null-fails-
    //    equality half of the contract
    assert(read().filter(col("monitor") === true).count() == 0L)
  }

  test("q_join_cardinality: histogram join is broadcast, estimate join is single-row") {
    val plan = finalPlan(SparkEntry.queries("q_join_cardinality")(spark, sfDir))
    // ha ⋈ hb on the 32-value bucket column: both sides are fixed-width
    // histograms — must be a broadcast hash join, never a shuffle
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.leftKeys.exists(_.toString.contains("b"))),
      s"histogram join did not broadcast: ${bhj.map(_.leftKeys)}")
    val bnlj = collectAll(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, "estimate join is not a single-row broadcast")
    val smj = collectAll(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"q_join_cardinality planned a sort-merge join: $smj")
  }
}
