package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.AirQuality
import graft.sources.Snapshots

/** The S1 snapshot source: the fixture written as JSON-lines snapshots must
  * read back through the explicit permissive schemas and drive the flagship
  * pipeline to the identical result as the in-memory fixture run; malformed
  * payload lines must degrade to nulls, not fail the job (SURVEY.md §2.10).
  */
class SnapshotsSpec extends SparkTestBase {

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("JSON snapshot round-trip drives the pipeline to the fixture result") {
    import spark.implicits._
    val (locations, latest, cities) = AirQuality.fixture(spark)
    val locDir = tempDir("loc"); val latDir = tempDir("lat")
    locations.toDF().write.mode("overwrite").json(locDir)
    // write the API shape: nested datetime struct
    latest.toDF().select(col("location_id"), col("sensorsId"), col("value"),
        col("unit"),
        struct(col("datetime_utc").as("utc"), col("datetime_local").as("local"))
          .as("datetime"),
        col("date"))
      .write.mode("overwrite").json(latDir)

    val viaSnapshot = AirQuality.run(spark,
      Snapshots.readLocations(spark, locDir),
      Snapshots.readLatest(spark, latDir),
      cities.toDF()).collect().map(_.toSeq).toSeq
    val inMemory = AirQuality.flagship(spark).collect().map(_.toSeq).toSeq
    assert(viaSnapshot.nonEmpty)
    assert(viaSnapshot == inMemory)
  }

  test("malformed snapshot lines degrade to null rows, not job failure") {
    val dir = tempDir("corrupt")
    val good = """{"city":"Warsaw","id":7,"name":"OK","coordinates":{"latitude":52.0,"longitude":21.0},"datetimeLast":{"utc":"2025-09-07T00:00:00Z"},"sensors":[{"id":1,"parameter":{"name":"pm25","units":"µg/m³"}}]}"""
    val bad = """{"city": NOT JSON AT ALL"""
    // valid JSON, one field of the wrong type
    val wrongType = """{"city":"Krakow","id":"abc","name":"Typo"}"""
    Files.write(java.nio.file.Paths.get(dir, "snap.json"),
      java.util.Arrays.asList(good, bad, wrongType))
    val df = Snapshots.readLocations(spark, dir)
    assert(df.count() == 3)
    // unparseable line → an all-null row
    assert(df.filter(df.columns.map(col(_).isNull).reduce(_ && _)).count() == 1)
    // wrong-typed field → only that field is null, the row keeps the rest
    val typo = df.filter(col("city") === "Krakow").collect()
    assert(typo.length == 1)
    assert(typo.head.isNullAt(typo.head.fieldIndex("id")))
    assert(typo.head.getAs[String]("name") == "Typo")
    assert(df.filter(col("id") === 7).count() == 1)
  }
}
