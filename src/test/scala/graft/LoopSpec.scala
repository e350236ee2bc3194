package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** [[graft.ops.Loop]] is the one place loop state is carried and loop
  * progress is named. Two loops in one plan report under their own names,
  * and the guard keeps `dropOriginStats` behind `Loop.carry`: a loop that
  * hand-writes its own checkpoint fails here, and so does an allowlist
  * entry that no longer calls it.
  */
class LoopSpec extends SparkTestBase {

  private val carriers = Set(
    "org/apache/spark/sql/graft/bridge.scala", "graft/ops/Loop.scala")

  test("two distributed component loops in one plan report under their own names") {
    def chain(from: Long) = spark.range(from, from + 5)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val left = graft.ops.ConnectedComponents
      .components(chain(0L), "chain_left", driverEdgeLimit = 0)
    val right = graft.ops.ConnectedComponents
      .components(chain(100L), "chain_right", driverEdgeLimit = 0)
    val joined = left.join(right, left("node") + 100 === right("node"))
      .select(left("node"), left("component"), right("component"))
    val rows = joined.collect()
    assert(rows.length == 6)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 100L))
    val obs = joined.queryExecution.observedMetrics
    Seq("chain_left", "chain_right").foreach { loop =>
      val m = obs.getOrElse(s"${loop}_convergence",
        fail(s"${loop}_convergence missing: ${obs.keySet}"))
      assert(m.getAs[Long]("converged") == 1L, s"$loop: $m")
      assert(m.getAs[Long]("final_change") == 0L, s"$loop: $m")
      assert(m.getAs[Long]("iterations") > 0L, s"$loop: $m")
    }
  }

  test("dropOriginStats( appears in src/main only in the bridge and graft.ops.Loop") {
    val root = Paths.get(ToolPaths.resolve("src/main/scala"))
    val found = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("dropOriginStats("))
      .map(p => root.relativize(p).toString).toSet
    val offenders = (found -- carriers).map(f => s"$f: carries loop state by hand; call graft.ops.Loop.carry") ++
      (carriers -- found).map(f => s"$f: stale allowlist entry")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
