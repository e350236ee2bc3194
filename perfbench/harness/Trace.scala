package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read at op boundaries. None of them needs a
  * listener, so they are read in untraced runs too.
  */
final case class Counters(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long,
    compiles: Long, compileNs: Long) {
  def -(o: Counters): Counters = Counters(wallNs - o.wallNs, cpuNs - o.cpuNs,
    jitMs - o.jitMs, gcMs - o.gcMs, compiles - o.compiles, compileNs - o.compileNs)
  def +(o: Counters): Counters = Counters(wallNs + o.wallNs, cpuNs + o.cpuNs,
    jitMs + o.jitMs, gcMs + o.gcMs, compiles + o.compiles, compileNs + o.compileNs)
}

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def now(): Counters = Counters(System.nanoTime(), os.getProcessCpuTime,
    jit.getTotalCompilationTime, gcs.map(_.getCollectionTime).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** CPU ticks (1/100 s) per thread-name group, from `/proc/self/task`;
  * digits in names are folded, so `GC Thread#0..3` is one group. The warm
  * phase's delta is in the run record, which shows JIT, GC and background
  * threads apart from the threads that run the workload. Empty off Linux.
  */
object ThreadCpu {
  def ticks(): Map[String, Long] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) return Map.empty
    Files.list(tasks).iterator().asScala.toSeq.flatMap { t =>
      Try {
        val name = new String(Files.readAllBytes(t.resolve("comm"))).trim
          .replaceAll("[0-9]+", "#")
        val stat = new String(Files.readAllBytes(t.resolve("stat")))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        name -> (f(11).toLong + f(12).toLong) // utime + stime
      }.toOption
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** One timed interval: a benchmark span around a call into a layer, or a
  * Spark job or scan stage seen by the listener. Times are epoch
  * milliseconds (Spark's event clock) with sub-millisecond fractions for the
  * benchmark's own spans.
  */
final case class Span(name: String, start: Double, end: Double, op: Int) {
  def dur: Double = end - start
}

/** Traced-run collector: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for the Catalyst phase split, and the benchmark's
  * own spans. Everything stays in memory; [[OpTrace]] summarises it per op
  * once the run has ended and the listener bus has drained.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  final class StageAgg(val id: Int) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var recordsRead = 0L
    var scan: Option[String] = None
    var start = 0.0; var end = 0.0
  }
  final case class Job(id: Int, group: String, start: Double, var end: Double,
      stages: Seq[Int])
  final case class Planning(start: Double, analysisMs: Long, optMs: Long,
      planMs: Long)

  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val planning = mutable.ArrayBuffer.empty[Planning]
  val spans = mutable.ArrayBuffer.empty[Span]

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = nowMs()
    try body
    finally { val e = nowMs(); lock.synchronized(spans += Span(name, s, e, op)) }
  }

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, group, e.time.toDouble, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val info = e.stageInfo
      val s = stage(info.stageId)
      s.start = info.submissionTime.getOrElse(0L).toDouble
      s.end = info.completionTime.getOrElse(0L).toDouble
      // a stage that runs the snapshot connector's scan
      s.scan = info.rddInfos.flatMap(_.scope).map(_.name)
        .find(_.contains("graft-snapshot("))
        .map(n => if (n.contains("latest")) "latest" else "locations")
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    lock.synchronized(planning += Planning(start,
      ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

object OpTrace {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** `sources.scan_*` spans: the stages that ran the snapshot connector's
    * scan, attributed to ops through their jobs' group (`op<i>[:query]`).
    */
  def scanSpans(t: Trace): Seq[Span] = {
    val opOfStage = t.jobs.toSeq.flatMap { j =>
      val op = j.group.stripPrefix("op").takeWhile(_.isDigit)
      if (op.isEmpty) Nil else j.stages.map(_ -> op.toInt)
    }.toMap
    t.stages.values.toSeq.flatMap(s => for (kind <- s.scan; op <- opOfStage.get(s.id))
      yield Span(s"sources.scan_$kind", s.start, s.end, op))
  }

  /** Per-op layer breakdown. `group` is the job-group prefix of the op,
    * `window` its [start, end] in epoch ms, `wallS` its timed wall (the
    * window less the untimed checks between query_mix queries), `cores` the
    * local parallelism.
    */
  def summarise(t: Trace, op: Int, group: String, window: (Double, Double),
      wallS: Double, cores: Int): Map[String, Double] = {
    val jobs = t.jobs.filter(j => j.group == group || j.group.startsWith(group + ":")).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val st = t.stages.values.filter(s => stageIds(s.id)).toSeq
    val wallMs = wallS * 1000.0
    val jobUnion = union(jobs.map(j => (j.start, j.end)))
    val scans = st.filter(_.scan.isDefined)
    val plan = t.planning.filter(p => p.start >= window._1 && p.start <= window._2)
    val opSpans = t.spans.filter(_.op == op).toSeq
    val jobSpans = jobs.map(j => (j.start, j.end))
    // self time of a benchmark span: its length minus the part covered by
    // its child spans and by Spark jobs running inside it
    def self(prefix: String): Double = opSpans.filter(_.name.startsWith(prefix)).map { s =>
      val inner = (opSpans.filter(c => c != s && c.start >= s.start && c.end <= s.end)
        .map(c => (c.start, c.end)) ++ jobSpans.map { case (a, b) =>
          (math.max(a, s.start), math.min(b, s.end)) })
      s.dur - union(inner)
    }.sum / 1000.0
    def dur(name: String) = opSpans.filter(_.name == name).map(_.dur).sum / 1000.0
    val taskRunS = st.map(_.runMs).sum / 1000.0
    Map(
      "sources.scan_s" -> union(scans.map(s => (s.start, s.end))) / 1000.0,
      "sources.rows" -> scans.map(_.recordsRead).sum.toDouble,
      "sources.partitions" -> scans.map(_.tasks).sum.toDouble,
      "sources.self_s" -> self("sources."),
      "pipeline.run_s" -> dur("pipeline.run"),
      "pipeline.write_csv_s" -> dur("pipeline.write_csv"),
      "pipeline.self_s" -> self("pipeline."),
      "queries.self_s" -> self("queries."),
      "catalyst.analysis_ms" -> plan.map(_.analysisMs).sum.toDouble,
      "catalyst.optimizer_ms" -> plan.map(_.optMs).sum.toDouble,
      "catalyst.planning_ms" -> plan.map(_.planMs).sum.toDouble,
      "catalyst.executions" -> plan.size.toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> st.size.toDouble,
      "scheduler.tasks" -> st.map(_.tasks).sum.toDouble,
      "scheduler.job_union_s" -> jobUnion / 1000.0,
      "scheduler.driver_gap_s" -> (wallMs - jobUnion) / 1000.0,
      "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> taskRunS,
      "exec.core_busy_ratio" -> (if (wallMs > 0) taskRunS / (cores * wallMs / 1000.0) else 0.0),
      "exec.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1048576.0,
      "exec.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
      "exec.spill_mb" -> st.map(_.spill).sum / 1048576.0)
  }
}
