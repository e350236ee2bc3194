package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.graft.bridge

import graft.model.Tables

/** [[Tables.parquet]] gives a parquet read the schema Spark's inferring read
  * would give it, without the Spark job that inference runs. The guard keeps
  * it the one way `src/main` builds a batch parquet read: an inferring read
  * anywhere else fails here, and so does an allowlist count that no longer
  * matches the source.
  */
class ParquetReadSpec extends SparkTestBase {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // inferring reads src/main keeps, per file
  private val inferring = Map(
    // Tables.parquet itself, for a path with no data file
    "graft/model/Tables.scala" -> 1,
    // q_schema_merge's mergeSchema read needs every footer
    "graft/queries/Sinks.scala" -> 1,
    // streaming reads: file-sink output resolves through `_spark_metadata`
    "graft/streaming/Streams.scala" -> 13,
    "graft/StreamCheck.scala" -> 6)

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertSameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)

  test("the footer schema equals the inferred one: sf tables, events layouts, Spark-written dirs") {
    tables.foreach(t => assertSameSchema(s"$sfDir/$t.parquet"))
    assertSameSchema(s"${EventsLayoutSpec.writeNanosLong(spark)}/events.parquet")
    assertSameSchema(s"${EventsLayoutSpec.writeNtzMicros(spark)}/events.parquet")

    val multi = s"${tempDir("pq_multi")}/orders"
    Tables.orders(spark, sfDir).repartition(3).write.parquet(multi)
    assert(new java.io.File(multi).list().count(_.endsWith(".parquet")) == 3)
    assertSameSchema(multi)

    // the shape `Sinks.prunedOrdersScan` reads back
    val parted = s"${tempDir("pq_parted")}/orders"
    Tables.orders(spark, sfDir).write.partitionBy("o_orderstatus").parquet(parted)
    assertSameSchema(parted)
    assert(Tables.parquet(spark, parted).schema.last.name == "o_orderstatus")
  }

  test("building a table read starts no Spark job; the inferring read starts one") {
    def jobsToBuild(read: => DataFrame): Int = {
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        read
        bridge.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get
    }
    assert(jobsToBuild(Tables.lineitem(spark, sfDir)) == 0)
    assert(jobsToBuild(spark.read.parquet(s"$sfDir/lineitem.parquet")) == 1)
  }

  test("a path with no data file fails with Spark's own error; a rewrite is read fresh") {
    val empty = tempDir("pq_empty")
    val ours = intercept[AnalysisException](Tables.parquet(spark, empty))
    val inferred = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getMessage == inferred.getMessage)

    val p = s"${tempDir("pq_rewrite")}/t"
    spark.range(3).toDF("a").write.parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("a"))
    spark.range(3).toDF("b").write.mode("overwrite").parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("b"))
  }

  test("src/main infers a parquet schema only in Tables.parquet and the allowlisted reads") {
    val read = """\.read(\s*\.option\([^)]*\))*\s*\.parquet\(""".r
    val root = Paths.get(ToolPaths.resolve("src/main/scala"))
    val found = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> read.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    val offenders = (found.keySet ++ inferring.keySet).toSeq.sorted.flatMap { f =>
      (found.getOrElse(f, 0), inferring.getOrElse(f, 0)) match {
        case (n, m) if n == m => None
        case (n, 0) => Some(s"$f: $n inferring parquet read(s); call Tables.parquet")
        case (n, m) => Some(s"$f: $n inferring parquet read(s), allowlist says $m")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
