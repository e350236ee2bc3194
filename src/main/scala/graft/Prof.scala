package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.bridge

/** Debug main: `bash tools/jrun.sh graft.Prof q_a [q_b ...]` profiles each
  * query at `SPARK_GRAFT_SF_DIR` (default sf0.1): the min of 5 timed
  * `count()` passes after one warm run at sf0.001, then for the last pass a
  * per-job table (SQL execution, wall, tasks, task time, CPU, GC, shuffle
  * bytes; the gap between the job walls and the pass is driver-side work)
  * and the final post-AQE plan it executed, formatted.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Prof <q_name>...")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    try args.foreach(n => print(profile(spark, n, dir)))
    finally spark.stop()
  }

  private class Job(val id: Int, val exec: String, val desc: String, val start: Long,
      val stages: Int) {
    var end, taskMs, cpuNs, gcMs, shufR, shufW = 0L
    var tasks = 0
    def wallMs: Long = (end - start).max(0L)
  }

  /** Profiles one declared query at `dir` and returns the report; the
    * session is left running and its listeners as they were. */
  def profile(spark: SparkSession, name: String, dir: String): String = {
    val fn = SparkEntry.queries(name)
    fn(spark, "/root/testdata/sf0.001").count()
    Session.release(spark)

    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Job]
    val execDesc = mutable.HashMap.empty[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execDesc(s.executionId.toString) = s.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        // Queries set no job descriptions. A job run for a SQL execution
        // takes the execution's (its action's callsite): the jobs AQE submits
        // carry only Spark's own callsite. Other jobs keep the result
        // stage's callsite.
        val exec = prop(SQLExecution.EXECUTION_ID_KEY)
        val desc = prop("spark.job.description")
          .orElse(exec.flatMap(execDesc.get))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
        val j = new Job(e.jobId, exec.getOrElse("-"), desc, e.time, e.stageIds.size)
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1
          if (e.taskInfo != null) j.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shufR += m.shuffleReadMetrics.totalBytesRead
            j.shufW += m.shuffleWriteMetrics.bytesWritten
          }
        }
    }

    var rows = 0L
    var counted: DataFrame = null
    spark.sparkContext.addSparkListener(listener)
    val ts = try (1 to 5).map { _ =>
      // the table describes the last pass only
      bridge.drainListenerBus(spark)
      jobs.clear()
      val t0 = System.nanoTime()
      // the plan `count()` runs, kept so its executed form can be printed
      counted = fn(spark, dir).groupBy().count()
      rows = counted.collect().head.getLong(0)
      val t = (System.nanoTime() - t0) / 1e9
      Session.release(spark)
      t
    } finally {
      bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }

    val table = jobs.values.map(j =>
      f"  job ${j.id}%4d  exec=${j.exec}%4s  wall=${j.wallMs / 1e3}%7.3f  stages=${j.stages}%2d" +
        f"  tasks=${j.tasks}%4d  taskTime=${j.taskMs / 1e3}%8.3f  cpu=${j.cpuNs / 1e9}%7.3f" +
        f"  gc=${j.gcMs / 1e3}%6.3f  shufR=${j.shufR / 1024}%6dK  shufW=${j.shufW / 1024}%6dK" +
        s"  ${j.desc.take(60)}")
    val covered = jobs.values.map(_.wallMs).sum / 1e3
    (f"PROF $name min=${ts.min}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")} rows=$rows dir=$dir" +:
      table.toSeq :+
      f"  jobs=${jobs.size}  sum(job walls)=$covered%.3f s of ${ts.last}%.3f s (the gap is driver-side)")
      .mkString("", "\n", "\n") + counted.queryExecution.explainString(FormattedMode)
  }
}
