package graft
import org.apache.spark.sql.SparkSession
object ProfX {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q_broadcast_join")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Target scale is env-overridable so scale regressions can be profiled
    // at the synthetic sf1/sf3 dirs with the same min-of-5 protocol.
    val dir = sys.env.getOrElse("SPARK_GRAFT_PROF_DIR", "/root/testdata/sf0.1")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, "/root/testdata/sf0.001").count() // warm codegen
      spark.sharedState.cacheManager.clearCache()
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        // localCheckpoint blocks are NOT cleared by the cache manager —
        // they release only when the ContextCleaner sees their RDDs
        // unreferenced, which needs a driver GC. Without this, checkpoint
        // blocks from earlier passes accumulate in the block manager and
        // later passes measure GC pressure, not the query (observed:
        // 2–22 s pass spreads on checkpoint-heavy queries).
        System.gc()
        t
      }
      println(f"PROF $n min=${ts.min}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
