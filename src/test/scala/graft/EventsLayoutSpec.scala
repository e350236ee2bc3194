package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Tables

/** Pins `Tables.events`' layout dispatch (the round-8 incident: a driver
  * testdata regen flipped `events.ts` from TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS, NTZ) and the then-unconditional nanos arithmetic broke
  * every event-table query). The loader must yield the SAME µs
  * TimestampType instants from either physical layout, including the
  * floor-division edge on pre-1970 sub-µs nanos.
  */
class EventsLayoutSpec extends SparkTestBase {
  import EventsLayoutSpec._

  test("NANOS-long and NTZ-micros layouts load to identical µs instants") {
    val a = Tables.events(spark, writeNanosLong(spark))
    val b = Tables.events(spark, writeNtzMicros(spark))
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    val ga = a.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gb = b.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ga === gb)
    // and the floor (not truncate-toward-zero) semantics hold
    assert(ga(1L) === -1L)
    assert(ga(2L) === -2L)
    assert(ga(0L) === 1723500000123456L)
  }

  test("the shipped testdata layout loads as µs TimestampType") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.limit(1).count() === 1L)
  }
}

/** The two `events` layouts, each written as `events.parquet` into a fresh
  * temp directory whose path is returned (a one-table `sfDir`). */
object EventsLayoutSpec {
  // one instant per interesting case, as raw nanos-since-epoch:
  //  - positive with sub-µs residue (floor == truncate)
  //  - negative with sub-µs residue (floor != truncate: -999 ns → -1 µs)
  //  - exact µs boundary, zero, and a modern timestamp
  private val nanos = Seq(
    1723500000123456789L, // 2024-08-12T...  .123456789 → .123456 µs
    -999L,                // 1969-12-31T23:59:59.999999... → -1 µs (floor)
    -1500L,               // → -2 µs under floor (truncate would say -1)
    1000L,                // exact 1 µs
    0L)

  private def writeDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Layout A: BIGINT nanos (what nanosAsLong yields for TIMESTAMP(NANOS)
    * sources, and what pre-round-8 testdata/ScaleGen sf1 shipped). */
  def writeNanosLong(spark: SparkSession): String = {
    val dir = writeDir("events_nanos")
    val rows = nanos.zipWithIndex.map { case (n, i) =>
      Row(i.toLong, n, i.toLong, "t", 1.0, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Layout B: TIMESTAMP_NTZ micros (current driver testdata) carrying the
    * floor-divided µs value of the same instants. */
  def writeNtzMicros(spark: SparkSession): String = {
    val dir = writeDir("events_ntz")
    val rows = nanos.zipWithIndex.map { case (n, i) =>
      val micros = Math.floorDiv(n, 1000L)
      Row(i.toLong,
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC),
        i.toLong, "t", 1.0, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
}
