package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot ingestion for the OpenAQ-shaped payloads (SURVEY.md §2.1 S1-S4).
  *
  * The reference consumes the REST API row-by-row over HTTP
  * (`main.py:45-57,107-132,175-180`); its Spark-native form ingests a
  * SNAPSHOT of those payloads (JSON lines dumped per run) and lets the
  * pipeline's joins replace the per-station N+1 endpoint (SURVEY.md §3.3).
  * Schemas are explicit and fully nullable — every field the reference reads
  * with `.get()` fallbacks (`main.py:93,136,155,255`) becomes a nullable
  * column, so an absent field is `null` exactly where Python saw `None`.
  * Reads are PERMISSIVE with a `_corrupt_record` column: a malformed payload
  * row degrades to nulls and flows out through the pipeline's existing
  * validity filters, mirroring the reference's error→empty-result semantics
  * (`main.py:51-57`, SURVEY.md §2.10). A line that parses but carries a
  * field of the wrong JSON type (`"id":"abc"`) keeps its other fields and
  * nulls only that one (Spark's partial results), as the DuckDB oracle's
  * `read_json(..., ignore_errors=true)` does.
  *
  * Both reads are Spark's built-in JSON file scan, which prunes columns
  * (`_corrupt_record` included) and takes pushed filters itself.
  *
  * At scale: JSON-lines snapshots split by line, so a 100 TB measurement
  * snapshot fans out across executors with no driver involvement; the
  * explicit schema avoids the schema-inference pre-pass entirely.
  */
object Snapshots {

  /** SURVEY.md §1.3 `locations` payload (+ the per-run `city` tag the
    * reference carries as loop state, `main.py:209`).
    */
  val locationSchema: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("locality", StringType),
    StructField("coordinates", StructType(Seq(
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    StructField("datetimeLast", StructType(Seq(
      StructField("utc", StringType),
      StructField("local", StringType)))),
    StructField("sensors", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("parameter", StructType(Seq(
        StructField("name", StringType),
        StructField("units", StringType)))),
      StructField("units", StringType),
      StructField("unit", StringType))))),
    StructField("_corrupt_record", StringType)))

  /** SURVEY.md §1.3 `latest` payload: `sensorsId` stays lexical (the
    * reference coerces with `int(sid)`, `main.py:234-237` — `try_cast` in
    * the pipeline), `value` stays lexical (F7 emits it unconverted).
    */
  val latestSchema: StructType = StructType(Seq(
    StructField("location_id", LongType),
    StructField("sensorsId", StringType),
    StructField("value", StringType),
    StructField("unit", StringType),
    StructField("datetime", StructType(Seq(
      StructField("utc", StringType),
      StructField("local", StringType)))),
    StructField("date", StringType),
    StructField("_corrupt_record", StringType)))

  /** Station snapshot with the corrupt-record column dropped. */
  def readLocations(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(locationSchema).json(path).drop("_corrupt_record")

  /** Latest-measurement snapshot, flattened to the pipeline's input shape
    * (`AirQuality.run` expects `datetime_utc`/`datetime_local` columns).
    */
  def readLatest(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(latestSchema).json(path)
      .select(col("location_id"), col("sensorsId"), col("value"), col("unit"),
        col("datetime.utc").as("datetime_utc"),
        col("datetime.local").as("datetime_local"),
        col("date"))
}
