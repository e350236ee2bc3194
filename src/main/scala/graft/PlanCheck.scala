package graft

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Dev utility (not part of the library surface): sweep every declared
  * batch query and record its physical-plan shape as ONE machine-readable
  * artifact (`tools/plancheck.json`) — the breadth evidence behind the
  * README's "every declared query was plan-audited" claim, and a fast diff
  * surface for plan regressions between rounds.
  *
  * Per query: exchange counts split by partitioning (hash / range /
  * round-robin), broadcast exchanges, join strategy counts (BHJ / SMJ /
  * shuffled-hash / BNLJ / cartesian), windows with an EMPTY partition spec
  * (the single-partition hazard — legitimate only over bounded inputs like
  * per-bucket aggregates), and whole-stage-codegen span count.
  *
  * Usage: sbt 'runMain graft.PlanCheck [sfDir]' (default sf0.001 — the
  * driver-loop queries execute their convergence loops eagerly at plan
  * construction, so the smallest SF keeps the sweep fast).
  *
  * Second mode (VERDICT r9 ask #5): `runMain graft.PlanCheck <sfDir> aqe`
  * records the plans that actually matter at scale — AQE's runtime-replanned
  * final plans. Each query is EXECUTED (collect, result discarded) so
  * AdaptiveSparkPlanExec finalizes every stage, then the same shape audit
  * runs over the materialized plan → `tools/plancheck_aqe.json`, diffable
  * against the static sweep for join-strategy changes.
  */
object PlanCheck extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val aqe = args.lift(1).contains("aqe")
    val spark = Session()
    // static mode: with AQE on, codegen collapse (and final join
    // strategy) happens per-stage at RUNTIME, so an unexecuted
    // executedPlan reads zero codegen spans; the static audit documents
    // the deterministic planner output, the aqe mode the runtime one
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)

    def shape(p: SparkPlan): Map[String, Int] = {
      def cnt(f: PartialFunction[SparkPlan, Unit]): Int =
        collectWithSubqueries(p) { case n if f.isDefinedAt(n) => 1 }.sum
      Map(
        "shuffle_hash" -> cnt { case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => () },
        "shuffle_range" -> cnt { case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => () },
        "shuffle_rr" -> cnt { case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => () },
        "broadcast" -> cnt { case _: BroadcastExchangeExec => () },
        "bhj" -> cnt { case _: BroadcastHashJoinExec => () },
        "smj" -> cnt { case _: SortMergeJoinExec => () },
        "shj" -> cnt { case _: ShuffledHashJoinExec => () },
        "bnlj" -> cnt { case _: BroadcastNestedLoopJoinExec => () },
        "cartesian" -> cnt { case _: CartesianProductExec => () },
        "global_window" -> cnt { case w: WindowExec
          if w.partitionSpec.isEmpty => () },
        "codegen_spans" -> cnt { case _: WholeStageCodegenExec => () })
    }

    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_"))
      .map { case (name, fn) =>
        val r = Watchdog.run(spark, s"plan-$name", 600L) {
          // executedPlan = the prepared physical plan (codegen collapse +
          // AQE wrapper applied, NOT executed) — sparkPlan would read zero
          // codegen spans because CollapseCodegenStages runs in the
          // preparation phase
          val df = fn(spark, sf)
          // aqe mode: execute first so every AdaptiveSparkPlanExec stage is
          // finalized; the helper's collectWithSubqueries then walks the
          // runtime-chosen plan, not the initial guess
          if (aqe) df.collect()
          val s = shape(df.queryExecution.executedPlan)
          Session.release(spark)
          s
        }
        name -> r
      }
    def j(m: Map[String, Int]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    val qjson = rows.map {
      case (n, Right(m)) => s""""$n":${j(m)}"""
      case (n, Left(e)) => s""""$n":{"error":${ToolPaths.jsonString(e)}}"""
    }.mkString("{", ",", "}")
    val ok = rows.collect { case (_, Right(m)) => m }
    def tot(k: String) = ok.map(_(k)).sum
    val summary = j(Map(
      "queries" -> ok.size,
      "errors" -> (rows.size - ok.size),
      "cartesian_total" -> tot("cartesian"),
      "bnlj_total" -> tot("bnlj"),
      "global_window_total" -> tot("global_window"),
      "codegen_spans_total" -> tot("codegen_spans")))
    val record =
      s"""{"sf":"$sf","aqe":$aqe,"summary":$summary,"queries":$qjson}"""
    ToolPaths.publish("plancheck",
      if (aqe) "tools/plancheck_aqe.json" else "tools/plancheck.json", record)
    spark.stop()
  }
}
