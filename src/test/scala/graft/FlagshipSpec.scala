package graft

import graft.pipeline.AirQuality

/** End-to-end flagship pipeline over the FIXTURES.md §A fixture: checks the
  * golden rows and that every quirk path (nan kept, unknown sensor dropped,
  * sensor 0 dropped, stale dropped, unparseable date kept, far/stale/no-coord
  * stations excluded) behaves as the reference does.
  */
class FlagshipSpec extends SparkTestBase {

  lazy val rows: Seq[(String, String, String, String, String, String)] =
    AirQuality.flagship(spark).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5)))

  test("flagship returns rows (driver smoke contract)") {
    assert(rows.nonEmpty)
  }

  test("excluded stations contribute no rows") {
    val locs = rows.map(_._2).toSet
    assert(!locs.contains("Stale Station"))   // F1: stale last-seen
    assert(!locs.contains("NoCoords"))        // F3: missing coordinate
    assert(!locs.contains("Gdansk"))          // F4: >75 km away
    assert(!locs.contains("NoLastSeen"))      // F1: missing last-seen
  }

  test("lexical 'nan' value is kept verbatim (F7 quirk)") {
    assert(rows.exists(_._4 == "nan"))
  }

  test("unparseable measurement date is kept (F8 quirk)") {
    assert(rows.exists(_._6 == "not-a-date"))
  }

  test("invalid value, unknown sensor and sensor id 0 are dropped") {
    assert(!rows.exists(_._4 == "oops"))                    // F7
    assert(!rows.exists(_._4 == "1.0"))                     // F6: sensor 4242
    assert(!rows.exists(r => r._2 == "Manhattan" && r._3 == "pm25")) // F6: id 0
  }

  test("stale measurement dropped, non-target parameter absent") {
    assert(!rows.exists(_._6 == "2020-01-01T00:00:00Z"))    // F8 stale
    assert(!rows.exists(_._3 == "so2"))                     // F5
  }

  test("P4 name coalesce: locality used when name missing") {
    assert(rows.exists(_._2 == "Kondratowicza"))
  }

  test("P5+unit coalesce: uppercase PM25 matched, units resolved") {
    val wokalna = rows.filter(_._2 == "Warszawa, ul. Wokalna")
    assert(wokalna.exists(r => r._3 == "pm25" && r._5 == "µg/m³"))
    // sensor 9002 declares its unit at the sensor level, not parameter level
    assert(wokalna.exists(r => r._3 == "no2" && r._5 == "µg/m³"))
  }

  test("both cities present (U1 union)") {
    assert(rows.map(_._1).toSet == Set("Warsaw", "New York"))
  }

  // ── two-phase geo plan + interleaved-selection fixtures ───────────────
  import AirQuality.{Coordinates, DatetimeLast, LatestRow, Location, ParameterInfo, Sensor, City}

  private val FreshTs = "2025-09-07T12:00:00Z"
  private def mkLoc(city: String, id: Long, name: String, lat: Double,
      sens: Seq[Sensor]): Location =
    Location(city, id, Some(name), None,
      Some(Coordinates(Some(lat), Some(0.0))),
      Some(DatetimeLast(Some(FreshTs), None)), sens)
  private def mkSensor(id: Long, p: String): Sensor =
    Sensor(Some(id), Some(ParameterInfo(Some(p), Some("µg/m³"))), None, None)
  private def mkMeas(locId: Long, sid: Long, v: String): LatestRow =
    LatestRow(locId, Some(sid.toString), Some(v), None, Some(FreshTs), None, None)

  private def runCity(locs: Seq[Location], meas: Seq[LatestRow]): Set[String] = {
    import spark.implicits._
    AirQuality.run(spark, locs.toDS().toDF(), meas.toDS().toDF(),
      Seq(City("T", 0.0, 0.0)).toDS().toDF())
      .collect().map(_.getString(1)).toSet
  }

  // 1° latitude ≈ 111.2 km: 0.01 ≈ 1.1 km (inside 25 km), 0.45 ≈ 50 km
  // (outside 25 km, inside 75 km)
  test("two-phase geo: ≥10 primary-radius stations → 25 km plan, no fallback") {
    val near = (1 to 12).map(i =>
      mkLoc("T", 100L + i, s"Near$i", 0.01 * i, Seq(mkSensor(1000L + i, "pm25"))))
    val mid = mkLoc("T", 200L, "Mid50", 0.45, Seq(mkSensor(2000L, "pm25")))
    val meas = (1 to 12).map(i => mkMeas(100L + i, 1000L + i, "1.0")) :+
      mkMeas(200L, 2000L, "9.9")
    val locs = runCity(near :+ mid, meas)
    // the 50 km station is reachable only through the 75 km fallback —
    // with 12 primary hits the fallback is provably NOT taken
    assert(!locs.contains("Mid50"))
    assert(locs.contains("Near1") && locs.size == 12)
  }

  test("two-phase geo: <10 primary-radius stations → 75 km fallback taken") {
    val near = (1 to 5).map(i =>
      mkLoc("T", 100L + i, s"Near$i", 0.01 * i, Seq(mkSensor(1000L + i, "pm25"))))
    val mid = mkLoc("T", 200L, "Mid50", 0.45, Seq(mkSensor(2000L, "pm25")))
    val meas = (1 to 5).map(i => mkMeas(100L + i, 1000L + i, "1.0")) :+
      mkMeas(200L, 2000L, "9.9")
    val locs = runCity(near :+ mid, meas)
    assert(locs.contains("Mid50")) // 5 < 10 primary hits → country-wide 75 km
    assert(locs.size == 6)
  }

  test("two-phase geo: null-coordinate station counts toward the primary payload") {
    // The reference's fallback decision is `len(results)` of the RAW 25 km
    // payload (`main.py:119-122`) — before the coordinate guard. 9 located
    // stations + 1 null-coordinate station = 10 primary hits → primary
    // path, so the 50 km station must NOT appear. (Counting after the
    // guard would see 9 → fallback → Mid50 selected — the round-2 bug.)
    val near = (1 to 9).map(i =>
      mkLoc("T", 100L + i, s"Near$i", 0.01 * i, Seq(mkSensor(1000L + i, "pm25"))))
    val noCoord = Location("T", 300L, Some("NoCoord"), None,
      Some(Coordinates(None, Some(0.0))),
      Some(DatetimeLast(Some(FreshTs), None)), Seq(mkSensor(3000L, "pm25")))
    val mid = mkLoc("T", 200L, "Mid50", 0.45, Seq(mkSensor(2000L, "pm25")))
    val meas = (1 to 9).map(i => mkMeas(100L + i, 1000L + i, "1.0")) ++
      Seq(mkMeas(300L, 3000L, "2.0"), mkMeas(200L, 2000L, "9.9"))
    val locs = runCity(near ++ Seq(noCoord, mid), meas)
    assert(!locs.contains("Mid50"))  // 10 raw primary hits → no fallback
    // and in the PRIMARY path the station is a full candidate — the
    // reference's _valid_active_location (main.py:89-97) never checks
    // coordinates, and primary ranking needs no distance (payload-order
    // ties); the coordinate guard exists only inside the fallback scan
    assert(locs.contains("NoCoord"))
    assert(locs.size == 10)
    // control: without the null-coordinate station the payload is 9 → the
    // 75 km fallback IS taken and Mid50 is selected
    val ctrl = runCity(near :+ mid,
      (1 to 9).map(i => mkMeas(100L + i, 1000L + i, "1.0")) :+
        mkMeas(200L, 2000L, "9.9"))
    assert(ctrl.contains("Mid50"))
  }

  test("selection interleaving: station with only invalid rows forces a 4th") {
    val a = mkLoc("T", 1L, "A", 0.01, Seq(mkSensor(11, "pm25"),
      mkSensor(12, "pm10"), mkSensor(13, "o3"), mkSensor(14, "no2")))
    val b = mkLoc("T", 2L, "B", 0.02, Seq(mkSensor(21, "pm25"),
      mkSensor(22, "pm10"), mkSensor(23, "o3")))
    val c = mkLoc("T", 3L, "C", 0.03, Seq(mkSensor(31, "pm25")))
    val d = mkLoc("T", 4L, "D", 0.04, Seq(mkSensor(41, "pm25")))
    val meas = Seq(
      mkMeas(1, 11, "1.0"), mkMeas(1, 12, "2.0"),
      mkMeas(1, 13, "3.0"), mkMeas(1, 14, "4.0"),
      // B ranks 2nd (3 matched sensors) but every value fails F7 — the
      // reference walks it without counting it (main.py:273-274)
      mkMeas(2, 21, "oops"), mkMeas(2, 22, "broken"), mkMeas(2, 23, "bad"),
      mkMeas(3, 31, "5.0"),
      mkMeas(4, 41, "6.0"))
    val locs = runCity(Seq(a, b, c, d), meas)
    // rank order A(4) B(3) C(1) D(1); A covers all params, but `used` only
    // reaches 3 at D because B emitted nothing valid → D must be selected
    assert(locs == Set("A", "C", "D"))
  }

  test("K3 observe(): health counters ride the plan, no second scan") {
    import spark.implicits._
    val a = mkLoc("T", 1, "A", 0.01, Seq(mkSensor(11, "pm25"), mkSensor(12, "o3"),
      mkSensor(13, "pm10"), mkSensor(14, "no2")))
    val b = mkLoc("T", 2, "B", 0.02, Seq(mkSensor(21, "pm25")))
    val c = mkLoc("T", 3, "C", 0.03, Seq(mkSensor(31, "o3")))
    val meas = Seq(mkMeas(1, 11, "1.0"), mkMeas(1, 12, "2.0"),
      mkMeas(1, 13, "3.0"), mkMeas(1, 14, "4.0"),
      mkMeas(2, 21, "5.0"), mkMeas(3, 31, "6.0"))
    val obs = org.apache.spark.sql.Observation("graft-flagship-metrics")
    val out = AirQuality.run(spark, Seq(a, b, c).toDS().toDF(),
      meas.toDS().toDF(), Seq(City("T", 0.0, 0.0)).toDS().toDF(), Some(obs))
    val n = out.count() // the one action: metrics must arrive with it
    assert(obs.get("n_rows") == n, "CollectMetrics row count != action count")
    assert(obs.get("n_empty_unit") == 0L) // every fixture sensor has a unit
  }

  test("one lazy plan: no cache, and the CSV write is a single SQL execution") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    val cacheManager = spark.sharedState.cacheManager
    cacheManager.clearCache()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val dir = java.nio.file.Files.createTempDirectory("flagship1x").toString
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val out = AirQuality.flagship(spark)
      AirQuality.writeCsv(out, dir)
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      // run() builds the plan without running a job; writeCsv's write is
      // the only execution, and nothing stays cached afterwards
      assert(executions.get == 1, s"expected 1 SQL execution, saw ${executions.get}")
      assert(cacheManager.isEmpty, "run() or writeCsv left a cached plan")
      val imrs = out.queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r
      }
      assert(imrs.isEmpty, "flagship plan reads an InMemoryRelation")
    } finally {
      spark.listenerManager.unregister(listener)
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("two-phase geo: each city takes its own phase in one run") {
    import spark.implicits._
    // city P (0, 0) has 12 stations inside 25 km → primary; city F (10, 0)
    // has 5 → 75 km fallback. A phase count not partitioned by city would
    // see 17 and put both cities on the primary path.
    // n stations ~1 km apart inside 25 km, plus one at ~50 km
    def stations(city: String, lat0: Double, n: Int, id0: Long) = {
      val sites = (1 to n).map(i => (id0 + i, s"$city-Near$i", lat0 + 0.01 * i)) :+
        ((id0 + 50, s"$city-Mid50", lat0 + 0.45))
      (sites.map { case (id, name, lat) =>
          mkLoc(city, id, name, lat, Seq(mkSensor(10 * id, "pm25"))) },
        sites.map { case (id, _, _) => mkMeas(id, 10 * id, "1.0") })
    }
    val (pLocs, pMeas) = stations("P", 0.0, 12, 100L)
    val (fLocs, fMeas) = stations("F", 10.0, 5, 200L)
    val got = AirQuality.run(spark, (pLocs ++ fLocs).toDS().toDF(),
      (pMeas ++ fMeas).toDS().toDF(),
      Seq(City("P", 0.0, 0.0), City("F", 10.0, 0.0)).toDS().toDF())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!got.contains(("P", "P-Mid50")))  // primary: 50 km is out
    assert(got.count(_._1 == "P") == 12)
    assert(got.contains(("F", "F-Mid50")))   // fallback: 50 km is in
    assert(got.count(_._1 == "F") == 6)
  }

  test("flagship plan: pruned snapshot scans, every join a broadcast") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.sources.Snapshots
    import spark.implicits._
    object aqe extends AdaptiveSparkPlanHelper
    // the REAL pipeline over the production source path — same build as
    // q_flagship (snapshot JSON through Snapshots.read*)
    val base = new java.io.File("fixtures/snapshots").getAbsolutePath
    val cities = Seq(("Warsaw", 52.2297, 21.0122), ("New York", 40.7128, -74.0060),
      ("Berlin", 52.52, 13.405)).toDF("city", "lat", "lon")
    val out = AirQuality.run(spark,
      Snapshots.readLocations(spark, s"$base/locations.jsonl"),
      Snapshots.readLatest(spark, s"$base/latest.jsonl"), cities)
    // AQE's initial plan, before any action: the exchanges Spark inserts
    // are in it and no stage has been re-optimized yet. `plans` leaves the
    // cutoff subquery out, `withSubqueries` has it too.
    val initial = out.queryExecution.executedPlan
    val plans = aqe.collect(initial) { case p => p }
    val withSubqueries = aqe.collectWithSubqueries(initial) { case p => p }
    // 1. Column pruning reaches every snapshot scan, the cutoff
    //    subquery's included: the PERMISSIVE-mode _corrupt_record column is
    //    dropped at the SCAN (requiredSchema), not after it — at 100 TB that
    //    column is a second copy of every malformed payload.
    //    explode(sensors) must not widen the scan back.
    val scans = withSubqueries.collect { case f: FileSourceScanExec => f }
    assert(scans.size >= 3, s"expected all snapshot scans, saw ${scans.size}")
    scans.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("_corrupt_record"),
        s"unpruned _corrupt_record in scan: ${f.requiredSchema.catalogString}")
    }
    // the main plan reads the locations file once; the cutoff subquery is
    // its only other reader
    val locationScans = plans.count {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName == "locations.jsonl")
      case _ => false
    }
    assert(locationScans == 1, s"expected 1 locations scan, saw $locationScans")
    // 2. Every join in the flagship is a broadcast: the city config and the
    //    candidate-sensor map are bounded-small by construction. A
    //    SortMergeJoin or ShuffledHashJoin here means something bounded
    //    stopped being broadcast — the 100 TB measurement scan would
    //    shuffle. The cutoff is a scalar subquery, not a nested-loop join.
    val shuffledJoins = withSubqueries.collect {
      case j: SortMergeJoinExec => j.nodeName
      case j: ShuffledHashJoinExec => j.nodeName
    }
    assert(shuffledJoins.isEmpty,
      s"flagship plans a shuffled join: ${shuffledJoins.mkString(", ")}")
    val bhj = plans.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhj == 2,
      s"expected 2 broadcast hash joins (config, candidate-sensor map), saw $bhj")
    assert(!withSubqueries.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "flagship plans a nested-loop join")
    // 3. One exchange by city: the phase, station and rank windows share
    //    it; the greedy walk and the final sort run in one partition, with
    //    no range exchange (and so no sampling job) in front of the sort.
    val exchanges = withSubqueries.collect { case e: ShuffleExchangeExec => e }
    val ranged = exchanges.filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(ranged.isEmpty, s"flagship plans a range exchange: $ranged")
    val hashed = exchanges.count(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashed == 1, s"expected 1 hashpartitioning exchange, saw $hashed")
  }

  test("O2 top-40 cap: distance ties in the fallback, loc_id ties in the primary") {
    import spark.implicits._
    // city F (10, 0) is fallback: 45 one-sensor stations 28-67 km out, the
    // loc_id FALLING as the distance grows, plus the farthest station Twin
    // with two pm25 sensors
    val fb = (0 until 45).map(i => mkLoc("F", 1000L - i, s"F$i", 10.25 + 0.008 * i,
      Seq(mkSensor(10000L + i, "pm25"))))
    val twin = mkLoc("F", 2000L, "Twin", 10.64,
      Seq(mkSensor(20001L, "pm25"), mkSensor(20002L, "pm25")))
    // city P (0, 0) is primary: 45 one-sensor stations inside 22 km, the
    // distance FALLING as the loc_id grows, plus the nearest station Dup,
    // highest loc_id, that lists one sensor twice
    val pr = (0 until 45).map(i => mkLoc("P", 3000L + i, s"P$i", 0.2 - 0.004 * i,
      Seq(mkSensor(30000L + i, "pm25"))))
    val dup = mkLoc("P", 3100L, "Dup", 0.001,
      Seq(mkSensor(31000L, "pm25"), mkSensor(31000L, "pm25")))
    val locs = fb ++ pr ++ Seq(twin, dup)
    val meas = for (l <- locs; sid <- l.sensors.flatMap(_.id).distinct)
      yield mkMeas(l.id, sid, "1.0")
    // pm25 alone never covers every target, so the greedy walk keeps every
    // candidate and the output holds exactly the top 40 per city
    val got = AirQuality.run(spark, locs.toDS().toDF(), meas.toDS().toDF(),
        Seq(City("F", 10.0, 0.0), City("P", 0.0, 0.0)).toDS().toDF())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // two matched sensors outrank one, then the 39 nearest: a loc_id
    // tie-break would keep the farthest
    assert(got.filter(_._1 == "F").map(_._2) ==
      (0 until 39).map(i => s"F$i").toSet + "Twin")
    // a sensor listed twice counts once, so Dup ties at one match and its
    // loc_id ranks it 46th; the 40 lowest loc_ids stay, distance unused
    assert(got.filter(_._1 == "P").map(_._2) == (0 until 40).map(i => s"P$i").toSet)
  }

  test("K1 CSV sink: BOM, header, fixed column order, lossless round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("k1csv").toString
    try {
      AirQuality.writeCsv(AirQuality.flagship(spark), dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(files.length == 1) // coalesce(1): one part file
      // utf-8-sig fidelity (`main.py:287`): the file starts with EF BB BF,
      // immediately followed by the header row
      val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
      assert(bytes.take(3).toSeq ==
        Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte), "missing UTF-8 BOM")
      val header = new String(bytes.drop(3), "UTF-8").linesIterator.next()
      assert(header == "city,location,parameter,value,unit,date")
      val back = spark.read.option("header", true).csv(dir)
      assert(back.count() == rows.size)
      // values survive verbatim (incl. the lexical "nan" quirk row)
      assert(back.collect().exists(_.getString(3) == "nan"))
    } finally {
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
