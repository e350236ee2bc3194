package graft

import org.scalacheck.Prop.{forAll, forAllNoShrink}
import org.scalacheck.{Gen, Test => SCTest}
import graft.ops.Selection

/** Property tests for the greedy coverage selection (SURVEY.md §5.2.3). */
class SelectionSpec extends SparkTestBase {
  import SelectionSpec.greedySelect

  val targets: Set[String] = Set("pm25", "pm10", "o3", "no2")

  val candGen: Gen[List[Set[String]]] =
    Gen.listOfN(12, Gen.someOf(targets + "so2" + "co").map(_.toSet))

  private def check(name: String, minTests: Int = 200)(prop: => org.scalacheck.Prop): Unit =
    test(name) {
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
      assert(r.passed, r.status.toString)
    }

  check("greedy prefix is minimal satisfying (used≥3 ∧ covered⊇targets) when satisfiable") {
    forAll(candGen) { cands =>
      val ranked = cands.zipWithIndex.map { case (ps, i) => ("g", i.toLong, ps) }
      val sel = greedySelect(ranked, targets)("g")
      val coveredAt = (k: Int) => ranked.take(k).flatMap(_._3).toSet
      // `used` counts only PRODUCTIVE candidates (non-empty emitted-param
      // set), mirroring main.py:273-274 — an empty set is walked but
      // doesn't advance the ≥3 stop
      val usedAt = (k: Int) => ranked.take(k).count(_._3.nonEmpty)
      val satisfiableAt = (k: Int) =>
        usedAt(k) >= 3 && targets.subsetOf(coveredAt(k))
      val anySatisfiable = (1 to ranked.size).exists(satisfiableAt)
      if (anySatisfiable) {
        // selected prefix satisfies, and no shorter prefix does
        satisfiableAt(sel.size) && !(1 until sel.size).exists(satisfiableAt)
      } else {
        // unsatisfiable → whole list consumed
        sel.size == ranked.size
      }
    }
  }

  check("selection is a prefix of the ranked order") {
    forAll(candGen) { cands =>
      val ranked = cands.zipWithIndex.map { case (ps, i) => ("g", i.toLong, ps) }
      val sel = greedySelect(ranked, targets)("g")
      sel == ranked.take(sel.size).map(_._2)
    }
  }

  test("relational greedyPrefix agrees with driver-side greedySelect on testdata") {
    val events = graft.model.Tables.events(spark, sfDir)
    val rel = Selection.greedyPrefix(events).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet

    // reproduce via the driver-side walk
    import org.apache.spark.sql.functions._
    val t = Selection.DefaultTargets
    val cand = events
      .filter(col("event_type").isin(t.map(x => x: Any): _*))
      .groupBy((col("user_id") % 5).as("grp"), col("user_id"))
      .agg(countDistinct("event_type").as("m"),
        array_sort(collect_set("event_type")).as("cov"))
      .orderBy(col("grp"), col("m").desc, col("user_id"))
      .collect()
      .map(r => (r.getLong(0).toString, r.getLong(1), r.getSeq[String](3).toSet))
      .toSeq
    val sel = greedySelect(cand, t.toSet)
    // .toSeq first — flatMap on the Map itself would collapse to one id/group
    val expect = sel.toSeq.flatMap { case (g, ids) => ids.map(id => (g.toLong, id)) }.toSet
    assert(rel == expect)
  }

  // multi-city ranked candidate lists; a candidate's emitted-parameter set
  // is often empty (all its measurements failed validation) and may hold
  // non-target parameters
  private val cityGen: Gen[List[Set[String]]] = Gen.choose(0, 10).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(Set.empty[String]),
      3 -> Gen.someOf(targets + "so2" + "co").map(_.toSet))))
  private val trialGen: Gen[List[List[Set[String]]]] =
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, cityGen))

  // one Spark job per ScalaCheck case: a case is a batch of multi-city
  // trials and every (trial, city) is its own window partition; no
  // shrinking, each shrink step would be another job
  check("window greedyWindow selects the same prefix as the driver-side walk", 25) {
    import spark.implicits._
    forAllNoShrink(Gen.choose(1, 4), Gen.listOfN(8, trialGen)) { (minUsed, trials) =>
      val groups = for {
        (cities, t) <- trials.zipWithIndex
        (cands, c) <- cities.zipWithIndex
        g = s"t$t-c$c"
      } yield g -> cands.zipWithIndex.map { case (ps, i) => (g, 100L + i, ps) }
      val rows = for {
        (_, ranked) <- groups
        ((g, id, ps), i) <- ranked.zipWithIndex
        p <- ps
      } yield (g, i + 1L, id, p)
      val got = Selection.greedyWindow(
          rows.toDF("city", "rank", "loc_id", "pname"), targets, minUsed)
        .select("city", "loc_id").distinct().as[(String, Long)].collect().toSet
      // the model walks every candidate; a row-level output can only hold
      // the walked candidates that emitted something
      val expect = groups.flatMap { case (g, ranked) =>
        val emitted = ranked.filter(_._3.nonEmpty).map(_._2).toSet
        greedySelect(ranked, targets, minUsed).getOrElse(g, Nil)
          .filter(emitted).map((g, _))
      }.toSet
      got == expect
    }
  }
}

object SelectionSpec {

  /** Reference model of the greedy walk (`main.py:220-279` shape) over a
    * ranked, per-group candidate summary: `(group, candidateId,
    * emittedParams)` already ordered by rank within group, where
    * `emittedParams` is the set of parameters the candidate actually emitted
    * VALID measurements for (empty = no valid rows survived F6/F7/F8).
    * Mirrors the reference's interleaving of measurement validation with
    * selection: every walked candidate is selected, but only candidates
    * with ≥ 1 valid row count toward the `minUsed` stop (`main.py:273-274`)
    * and only emitted parameters grow the covered set (`main.py:270`) — a
    * station whose measurements all fail validation forces the walk onward.
    */
  def greedySelect(
      ranked: Seq[(String, Long, Set[String])],
      targets: Set[String],
      minUsed: Int = 3): Map[String, Seq[Long]] =
    ranked.groupBy(_._1).map { case (grp, cands) =>
      val sel = Vector.newBuilder[Long]
      var covered = Set.empty[String]
      var used = 0
      val it = cands.iterator
      var done = false
      while (it.hasNext && !done) {
        val (_, id, params) = it.next()
        sel += id
        covered ++= params
        if (params.nonEmpty) used += 1
        if (used >= minUsed && targets.subsetOf(covered)) done = true
      }
      grp -> sel.result()
    }
}
