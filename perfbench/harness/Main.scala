package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.Watchdog
import graft.pipeline.AirQuality
import graft.queries._
import graft.sources.Snapshots

object Json { val mapper = new ObjectMapper() }

/** Benchmark JVM. Commands:
  *
  *  - `setup <localDir>`: build the session and report the JVM's uptime when
  *    it is ready (one `setup_s` sample), then exit;
  *  - `dump <out.json>`: write every declared query's module and DuckDB
  *    oracle SQL, so `oracle.py` can compute expected results;
  *  - `run <config.json>`: one measured run — a cold op, then warm ops in a
  *    closed loop for the configured seconds — written as one JSON record.
  *
  * `perfbench/run.py` drives these; see `perfbench/NOTES.md`.
  */
object Main {

  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Joins" -> Joins.all,
    "Aggregates" -> Aggregates.all, "TextAnalysis" -> TextAnalysis.all,
    "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
    "Multimodal" -> Multimodal.all, "StreamingExec" -> StreamingExec.all,
    "FlagshipAnalog" -> FlagshipAnalog.all, "Flagship" -> Flagship.all,
    "Curation" -> Curation.all, "Sinks" -> Sinks.all, "Typed" -> Typed.all,
    "Analytics" -> Analytics.all)

  def session(localDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Room for every generated class of a query_mix round (~300); at the
      // default 100 the LRU cache evicts each class before the next round
      // needs it, so every warm round recompiled all of them.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def main(args: Array[String]): Unit = args(0) match {
    case "setup" =>
      session(args(1))
      println(s"""{"setup_s":$uptimeS}""")
      System.out.flush()
      Runtime.getRuntime.halt(0) // the sample is taken; skip the shutdown
    case "dump" =>
      val out = Json.mapper.createObjectNode()
      for ((m, qs) <- modules; q <- qs) {
        val n = out.putObject(q.name)
        n.put("module", m)
        q.oracle.foreach(n.put("oracle", _))
      }
      Json.mapper.writeValue(new File(args(1)), out)
    case "run" => new Run(Json.mapper.readTree(new File(args(1)))).apply()
  }
}

/** One op's outcome. `wallS`/`delta` cover the timed work only. */
final case class OpResult(wallS: Double, delta: Counters, error: Option[String],
    queryS: Seq[(String, Double)], rowsOut: Long, left: Residue,
    window: (Double, Double))

/** What an op left behind, read after it and before the benchmark's cleanup:
  * cached frames and checkpoint blocks, and the heap still live after a full
  * GC.
  */
final case class Residue(storageMb: Double, rdds: Int, heapMb: Double)

final class Run(cfg: JsonNode) {
  private val workload = cfg.get("workload").asText
  private val seconds = cfg.get("seconds").asDouble
  private val minWarm = cfg.get("min_warm_ops").asInt
  private val warmupOps = cfg.get("warmup_ops").asInt
  private val timeoutS = cfg.get("op_timeout_s").asLong
  private val work = new File(cfg.get("work").asText)
  private val spark = Main.session(new File(work, "local").getPath)
  private val setupS = Main.uptimeS
  private val cores = spark.sparkContext.defaultParallelism
  private val trace: Option[Trace] =
    if (cfg.get("trace").asBoolean) Some(new Trace) else None
  trace.foreach { t =>
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }
  private def nowMs(): Double = System.currentTimeMillis().toDouble

  private def span[T](name: String, op: Int)(body: => T): T =
    trace.fold(body)(_.span(name, op)(body))

  /** The live heap needs a full GC, so it is read on measured ops only. */
  private def left(measured: Boolean): Residue = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    if (measured) System.gc()
    Residue(infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length,
      if (measured) ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      else 0.0)
  }

  /** Between ops, outside every timer (as `graft.Bench` does). */
  private def isolate(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** A check that throws fails the op instead of the run. */
  private def checked(check: => Option[String]): Option[String] =
    try check catch { case e: Exception => Some(Watchdog.describe(e)) }

  /** Times `body` under a job group and the op timeout. */
  private def timed[T](group: String)(body: => T): (Double, Counters, Either[String, T]) = {
    val c0 = Counters.now()
    val r = Watchdog.run(spark, group, timeoutS)(body)
    val d = Counters.now() - c0
    (d.wallNs / 1e9, d, r)
  }

  // ── flagship_daily ───────────────────────────────────────────────────
  private def flagshipOp(i: Int, measured: Boolean): OpResult = {
    val f = cfg.get("flagship")
    val cities = f.get("cities").elements().asScala.map(c =>
      (c.get(0).asText, c.get(1).asDouble, c.get(2).asDouble)).toSeq
    val out = new File(work, s"csv/op$i")
    val w0 = nowMs()
    val (wall, d, r) = timed(s"op$i") {
      import spark.implicits._
      val loc = span("sources.read_locations", i)(
        Snapshots.readLocations(spark, f.get("locations").asText))
      val lat = span("sources.read_latest", i)(
        Snapshots.readLatest(spark, f.get("latest").asText))
      val result = span("pipeline.run", i)(
        AirQuality.run(spark, loc, lat, cities.toDF("city", "lat", "lon")))
      span("pipeline.write_csv", i)(AirQuality.writeCsv(result, out.getPath))
    }
    val w1 = nowMs()
    val l = left(measured)
    var rows = 0L
    val err = r.left.toOption.orElse(checked(Check.readCsv(out) match {
      case Left(e) => Some(e)
      case Right(got) =>
        rows = got.size
        Check.compareCsv(got, expectedCsv)
    }))
    deleteTree(out)
    OpResult(wall, d, err, Nil, rows, l, (w0, w1))
  }

  private lazy val expectedCsv: Seq[List[String]] =
    Json.mapper.readTree(new File(cfg.get("flagship").get("expected").asText))
      .get("rows").elements().asScala.map(_.elements().asScala
        .map(c => if (c.isNull) null else c.get(1).asText).toList).toSeq

  // ── query_mix ─────────────────────────────────────────────────────────
  private lazy val mix: Seq[(Q, String, Check.Expected)] = {
    val byName = Main.modules.flatMap { case (m, qs) => qs.map(q => q.name -> (q, m)) }.toMap
    cfg.get("queries").elements().asScala.map { n =>
      val (q, m) = byName(n.get("name").asText)
      (q, m, Check.expected(new File(n.get("expected").asText)))
    }.toSeq
  }

  private def mixOp(i: Int, measured: Boolean): OpResult = {
    val data = cfg.get("data").asText
    val w0 = nowMs()
    val runs = mix.map { case (q, m, want) =>
      val (wall, d, r) = timed(s"op$i:${q.name}") {
        span(s"queries.${q.name}", i) {
          val df = q.run(spark, data)
          (df.columns.toSeq, df.collect())
        }
      }
      val l = left(measured)
      spark.sharedState.cacheManager.clearCache()
      (q, m, want, wall, d, r, l)
    }
    val w1 = nowMs()
    val errors = runs.flatMap { case (q, _, want, _, _, r, _) =>
      (r match {
        case Left(e) => Some(e)
        case Right((cols, rows)) => checked(Check.compare(cols, rows, want))
      }).map(e => s"${q.name}: $e")
    }
    val delta = runs.map(_._5).reduce(_ + _)
    val ls = runs.map(_._7)
    val heaps = ls.map(_.heapMb).sorted
    OpResult(runs.map(_._4).sum, delta, errors.headOption,
      runs.map(x => (s"${x._2}/${x._1.name}", x._4)),
      runs.map(_._6.toOption.map(_._2.length.toLong).getOrElse(0L)).sum,
      Residue(ls.map(_.storageMb).sum, ls.map(_.rdds).sum, heaps(heaps.size / 2)),
      (w0, w1))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def apply(): Unit = {
    val op: (Int, Boolean) => OpResult = workload match {
      case "flagship_daily" => flagshipOp
      case "query_mix" => mixOp
    }
    val ops = mutable.ArrayBuffer.empty[OpResult]
    ops += op(0, false)
    isolate()
    // warm-up ops: recorded, but not part of the measured warm phase
    while (ops.size <= warmupOps) { ops += op(ops.size, false); isolate() }
    val cold = Counters.now()
    val threads0 = ThreadCpu.ticks()
    val warmStart = System.nanoTime()
    var done = false
    while (!done) {
      ops += op(ops.size, true)
      isolate()
      done = (System.nanoTime() - warmStart) / 1e9 >= seconds &&
        ops.size - 1 - warmupOps >= minWarm
    }
    val warmEnd = Counters.now()
    val threads1 = ThreadCpu.ticks()
    val warm = warmEnd - cold
    spark.stop() // drains the listener bus before the trace is read
    val rec = Json.mapper.createObjectNode()
    rec.put("workload", workload)
    rec.put("cores", cores)
    rec.put("setup_s", setupS)
    rec.put("warmup_ops", warmupOps)
    rec.put("warm_phase_s", warm.wallNs / 1e9)
    rec.put("warm_jit_ms", warm.jitMs)
    rec.put("warm_gc_ms", warm.gcMs)
    rec.put("warm_codegen_compiles", warm.compiles)
    val tcpu = rec.putObject("warm_thread_cpu_s")
    threads1.map { case (k, v) => k -> (v - threads0.getOrElse(k, 0L)) }
      .toSeq.sortBy(-_._2).foreach { case (k, d) => tcpu.put(k, d / 100.0) }
    val arr = rec.putArray("ops")
    ops.zipWithIndex.foreach { case (o, i) =>
      val n = arr.addObject()
      n.put("wall_s", o.wallS)
      n.put("cpu_s", o.delta.cpuNs / 1e9)
      n.put("jit_ms", o.delta.jitMs)
      n.put("gc_ms", o.delta.gcMs)
      n.put("compiles", o.delta.compiles)
      n.put("compile_ms", o.delta.compileNs / 1e6)
      n.put("rows_out", o.rowsOut)
      n.put("retained_mb", o.left.storageMb)
      n.put("retained_rdds", o.left.rdds)
      n.put("live_heap_mb", o.left.heapMb)
      o.error.foreach(n.put("error", _))
      val qs = n.putObject("queries")
      o.queryS.foreach { case (k, v) => qs.put(k, v) }
      trace.foreach { t =>
        val lay = n.putObject("layers")
        OpTrace.summarise(t, i, s"op$i", o.window, o.wallS, cores).foreach { case (k, v) =>
          lay.put(k, v)
        }
      }
    }
    trace.foreach { t =>
      // each span's parent is the innermost benchmark span enclosing it
      val spans = t.spans.toSeq ++ OpTrace.scanSpans(t)
      def parent(s: Span): String = t.spans.filter(p => p.op == s.op &&
          p != s && p.start <= s.start && p.end >= s.end)
        .sortBy(_.dur).headOption.map(_.name).getOrElse(s"op${s.op}")
      val sp = rec.putArray("spans")
      spans.sortBy(_.start).foreach { s =>
        val n = sp.addObject()
        n.put("name", s.name); n.put("op", s.op)
        n.put("start_ms", s.start); n.put("end_ms", s.end)
        n.put("parent", parent(s))
      }
    }
    Json.mapper.writeValue(new File(cfg.get("out").asText), rec)
  }
}
