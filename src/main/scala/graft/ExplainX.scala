package graft
import org.apache.spark.sql.SparkSession

/** Debug main (PlanX family): write `.explain("formatted")` for the named
  * queries to plans/<tag>/<name>_<suffix>.txt — the judge-checkable plan
  * artifacts for optimization rounds.
  * Usage: sbt 'runMain graft.ExplainX <tag> <suffix> q_a q_b ...'
  */
object ExplainX {
  def main(args: Array[String]): Unit = {
    val tag = args(0); val suffix = args(1); val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = ToolPaths.resolve(s"plans/$tag")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt")
      try w.println(txt) finally w.close()
      spark.sharedState.cacheManager.clearCache()
      println(s"[explainx] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
