package graft

import org.apache.spark.sql.functions._

/** Deep-diameter pin for the distributed ConnectedComponents loop
  * (VERDICT r11 ask #6): near-dup candidate graphs are near-cliques
  * (diameter 2–3), so the everyday corpus never exercises the regime the
  * scaladoc claims the loop survives — a diameter ≫ log N. A 10⁴-long
  * path graph forces it: plain min-label propagation would need 10⁴
  * rounds (far past maxIter — an unconverged, silently wrong clustering),
  * so this spec converging at all, in ≲ log₂(d) rounds, IS the evidence
  * that the pointer-doubling channel (`viaPointer`) delivers its O(log d)
  * contract and the alternating-star rewrite stays unnecessary.
  */
class CcLongChainSpec extends SparkTestBase {

  test("pointer doubling converges a 10^4-diameter chain in O(log d) rounds") {
    // path graph 0—1—2—…—10000: one component, min label 0, diameter 10^4
    val n = 10000L
    val edges = spark.range(0, n)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    // driverEdgeLimit=0 forces the distributed loop (the 10^4 edges would
    // otherwise take the bounded union-find shortcut)
    val res = graft.ops.ConnectedComponents
      .components(edges, "cc_long_chain", maxIter = 25, driverEdgeLimit = 0)
    val rows = res.collect()
    assert(rows.length === (n + 1))
    assert(rows.forall(_.getLong(1) == 0L),
      "every chain node must resolve to component 0")
    // convergence facts ride the plan as data (the K3 observe discipline)
    val m = res.queryExecution.observedMetrics("cc_long_chain_convergence")
    assert(m.getAs[Long]("converged") === 1L)
    assert(m.getAs[Long]("final_change") === 0L)
    val iters = m.getAs[Long]("iterations")
    // label coverage doubles per round (jump uses the previous round's
    // labels on both sides: f(r) = 2·f(r−1), f(1) = 1), so a 10^4 chain
    // needs ceil(log2(10^4))+1 = 15 propagation rounds plus the final
    // zero-change round — 16. Both bounds pinned: the upper one is the
    // O(log d) claim; the lower one proves the fixture really has a deep
    // diameter (a trivial graph would finish in 2–3).
    assert(iters <= 17L, s"expected ≤17 rounds (O(log d)), took $iters")
    assert(iters >= 14L, s"fixture lost its depth? converged in $iters")
  }
}
