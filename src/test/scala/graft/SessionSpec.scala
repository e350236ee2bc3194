package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus

/** [[Session]] is the one session every main and the test base run on, so
  * a timing, a plan dump and a correctness sweep describe one
  * configuration. The guard keeps it the only builder in the library: a
  * main that builds its own session fails here, and so does an allowlist
  * entry that no longer builds one.
  */
class SessionSpec extends SparkTestBase {

  private val builders = Set("graft/Session.scala")

  test("factory session: UTC, nanos as long, no UI, one shuffle partition per core") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val cores = spark.sparkContext.master match {
      case s"local[$n]" => n
      case m => fail(s"not a local[n] master: $m")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores)
    assert(spark.sparkContext.defaultParallelism.toString == cores)
  }

  test("SparkSession.builder appears in src/main only in the session factory") {
    val root = Paths.get(ToolPaths.resolve("src/main/scala"))
    val found = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toSet
    val offenders = (found -- builders).map(f => s"$f: builds its own session; call graft.Session()") ++
      (builders -- found).map(f => s"$f: stale allowlist entry")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("graft.Prof: timing line, per-job table and executed plan; listener removed") {
    val listeners = TestListenerBus.listeners(spark)
    val out = Prof.profile(spark, "q_scan_parquet", sfDir)
    assert(TestListenerBus.listeners(spark) == listeners, "Prof left its listener registered")
    val lines = out.linesIterator.toSeq
    assert(lines.exists(_.matches("""PROF q_scan_parquet min=\d+\.\d{3} all=(\d+\.\d{3},){4}\d+\.\d{3} rows=\d+ .*""")),
      out)
    val jobRows = lines.filter(_.matches("""\s+job\s+\d+\s+exec=.*"""))
    assert(jobRows.nonEmpty, out)
    // no schema-inference job, and AQE's jobs carry their execution's label
    assert(!jobRows.exists(_.contains("parquet at")), out)
    assert(!jobRows.exists(_.contains("CompletableFuture")), out)
    assert(out.contains("== Physical Plan ==") && out.contains("Final Plan"), out)
  }
}
