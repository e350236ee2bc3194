package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test base run on, so timings,
  * plans and correctness sweeps all describe one configuration: `local[n]`
  * with `n` shuffle partitions (`n` = `SPARK_GRAFT_CPUS`, else this
  * machine's cores), UTC (the events.ts NTZ→LTZ cast is exact under UTC),
  * TIMESTAMP(NANOS) parquet read as BIGINT for `Tables.events`, no UI.
  * A main that needs one more SQL conf sets it on the returned session.
  */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Frees what a query left materialized, between passes and outside every
    * timer: `clearCache()` drops the cached frames, and `System.gc()` frees
    * the `localCheckpoint` blocks. The cache manager does not cover those:
    * they are released only when the ContextCleaner sees their RDDs
    * unreferenced, which needs a driver GC. Without it, the blocks of
    * earlier passes pile up on the block manager, and later passes and
    * queries measure GC pressure, not their own work (seen as 2–22 s pass
    * spreads on checkpoint-heavy queries).
    */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }
}
