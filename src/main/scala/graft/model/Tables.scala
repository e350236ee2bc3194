package graft.model

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take a `sfDir` (e.g. `/root/testdata/sf0.01`) and read one
  * parquet file per table through [[parquet]]: the schema comes from that
  * file's footer, read on the driver, so building a table's scan starts no
  * Spark job. Filters/projections applied on top of these scans
  * are pushed into the parquet reader by Catalyst (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`), so at 100 TB the
  * scan reads only the referenced columns and skips row groups via min/max
  * stats. Nothing here materializes or caches — each query composes a lazy
  * plan over the scan.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Reads the parquet file or directory at `path` as Spark's reader does,
    * without the Spark job that infers its schema.
    *
    * Given no schema, Spark's reader infers one on every read with a Spark
    * job that reads a single footer. Here that footer is read on the driver
    * and passed to the reader as its schema. It is the one Spark's
    * non-merging inference picks: `_common_metadata`, else `_metadata`, else
    * the first data file in path order, among the files Spark's file index
    * lists (it skips names that start with `_` or `.`). Spark's own
    * `readSchemaFromFooter` converts it with a converter built from the
    * session conf, so Spark's stored row schema and the nanosAsLong, INT96
    * and binary-as-string settings apply as in the inference job, and a
    * partitioned directory still gets its partition columns appended.
    * Nothing is cached: each call reads the footer afresh. A path with no
    * data file takes Spark's inferring read, which fails with Spark's own
    * error. Reads that merge schemas need every footer and keep
    * `spark.read`, as do reads of a streaming file sink's output.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val ss = spark.asInstanceOf[classic.SparkSession]
    val files = new InMemoryFileIndex(ss, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    footerFile match {
      case Some(f) =>
        val input = HadoopInputFile.fromStatus(f, ss.sessionState.newHadoopConf())
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(input, SKIP_ROW_GROUPS))
        val schema = ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(ss.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Minimum-parallelism guarantee for scans feeding CPU-heavy per-row work
    * (tokenize/shingle/hash, vector math, timestamp re-parsing).
    *
    * A parquet file splits only at row-group boundaries; a table that
    * arrives as one small file/row group (the shape of the sfX test tables)
    * yields a one-partition scan, and the expensive map work above it runs
    * on a single core no matter how many exist. When the source cannot
    * provide even minimal parallelism (≤ 2 splits), redistribute round-robin
    * — the shuffle is bounded by the file size that caused it (~MBs). Any
    * real-scale table has thousands of splits, so this is a no-op there.
    * Deliberately NOT applied to every scan: for cheap scan→filter→agg
    * queries the extra stage costs more than single-core scanning saves.
    */
  def spread(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    val target = ss.sparkContext.defaultParallelism
    // Plan-side probe — no RDD materialization (df.rdd would build the
    // physical RDD lineage on the driver per call). File COUNT, not byte
    // size, is what caps effective scan parallelism here: parquet work
    // parallelizes at row-group boundaries, and a single-file table (the
    // testdata shape) is typically a single row group no matter how large —
    // byte-based split math over it yields splits that do no work. Many
    // small files, conversely, already scan in parallel and need no shuffle.
    val fileCounts = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.length
          case _ => Int.MaxValue // non-file relation: assume it parallelizes
        }
    }
    val minFiles = if (fileCounts.isEmpty) Int.MaxValue else fileCounts.min
    if (target > 2 && minFiles <= 2) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations, so the loader adapts to whichever the file declares and
    * always yields a µs-precision `TimestampType` column:
    *
    *  - parquet TIMESTAMP(NANOS) (and ScaleGen's sf≥1 synthesis, which
    *    writes raw BIGINT nanos): Spark 4 refuses to read NANOS as a
    *    timestamp, so read it as nanos-since-epoch
    *    (legacy.parquet.nanosAsLong) and FLOOR-divide to µs — exactly what
    *    DuckDB's TIMESTAMP_NS → TIMESTAMP cast does, so both engines see
    *    identical µs instants. Floor, not `div`: `div` truncates toward
    *    zero, which differs from DuckDB on pre-1970 instants with sub-µs
    *    nanos (−999 ns is −1 µs under floor but 0 under truncation); the
    *    pmod-based form is exact floor division on BIGINT with no double
    *    round-trip.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (current testdata):
    *    Spark reads TIMESTAMP_NTZ; cast to TimestampType. Sessions here run
    *    with UTC session/JVM time zone, so the cast re-labels the same µs
    *    value DuckDB reads natively — no instant shift.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // The flag belongs in the session builder (Verify/Bench/tests set it
    // once); the guarded fallback here keeps ad-hoc sessions working
    // without re-mutating shared conf on every call.
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    if (!s.conf.getOption(k).contains("true")) s.conf.set(k, "true")
    // The NTZ→TimestampType cast below re-labels wall-clock µs as an instant
    // through the SESSION time zone — instant-exact only under UTC. Every
    // in-repo main/test sets UTC; force it here too so a library caller with
    // a non-UTC session can't silently read shifted instants (ADVICE r9).
    val tz = "spark.sql.session.timeZone"
    if (!s.conf.getOption(tz).contains("UTC")) s.conf.set(tz, "UTC")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** The fixed output row of the air-quality pipeline (reference
  * `main.py:262-269`): all six columns are strings; `value` and `date` keep
  * their source lexical form.
  */
final case class Measurement(
    city: String,
    location: String,
    parameter: String,
    value: String,
    unit: String,
    date: String)
