package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `cache()`, `persist(` and `localCheckpoint(` call in `src/main` is
  * one the ledger (OPTIMIZATION_r17.md, "Materialization sweep") measured
  * and kept. A new site, or a count that no longer matches the source,
  * fails here, so a site arrives with its measurement and a deleted one
  * leaves the map with it.
  */
class MaterializeSpec extends AnyFunSuite {

  // materialization calls src/main keeps, per file: Loop.carry (every
  // loop's state) plus the sites the ledger kept, each marked in the source
  // with its ledger row (`// ledger Mnn: ...`)
  private val sites = Map(
    "graft/ops/ConnectedComponents.scala" -> 2,
    "graft/ops/Loop.scala" -> 2,
    "graft/ops/SetSimilarity.scala" -> 6,
    "graft/queries/Analytics.scala" -> 8,
    "graft/queries/Curation.scala" -> 5,
    "graft/queries/Dedup.scala" -> 17,
    "graft/queries/Joins.scala" -> 1,
    "graft/queries/Similarity.scala" -> 18,
    "graft/queries/Sinks.scala" -> 1,
    "graft/queries/TextAnalysis.scala" -> 2)

  test("src/main materializes only at the ledger's measured sites") {
    val call = """\.cache\(\)|\.persist\(|\.localCheckpoint\(""".r
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val root = Paths.get(ToolPaths.resolve("src/main/scala"))
    val found = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        call.findAllIn(comment.replaceAllIn(Files.readString(p), "")).size)
      .filter(_._2 > 0).toMap
    val offenders = (found.keySet ++ sites.keySet).toSeq.sorted.flatMap { f =>
      (found.getOrElse(f, 0), sites.getOrElse(f, 0)) match {
        case (n, m) if n == m => None
        case (n, 0) => Some(s"$f: $n new materialization site(s); measure and list them")
        case (n, m) => Some(s"$f: $n materialization site(s), the map says $m")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
