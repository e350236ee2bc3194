package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.{GraftExtensions, HaversineDistance}

/** End-to-end check of the SparkSessionExtensions surface: a session built
  * with [[GraftExtensions]] must (1) evaluate `haversine_distance`
  * bit-identically to the composed `Exprs.haversineMeters` tree it inlines,
  * (2) rewrite a literal-center radius predicate with bounding-box
  * conjuncts that reach the parquet scan as PushedFilters, and (3) return
  * exactly the rows the un-extended composed predicate returns — pruning
  * must never change results.
  */
class SessionExtensionsSpec extends SparkTestBase {

  /** A second session over the SAME SparkContext, with the extensions
    * installed. getOrCreate returns the default session no matter what the
    * builder carries, so the default/active slots are cleared first and
    * restored afterwards. The builder reuses the already-built context, so
    * it names no master.
    */
  private def withExtendedSession(body: SparkSession => Unit): Unit = {
    val base = spark // force creation of the shared session first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ext = SparkSession.builder()
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      try body(ext)
      finally ext.sharedState.cacheManager.clearCache()
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  // Warsaw-ish grid: 41×41 points, ~1.1 km lat spacing — plenty inside and
  // outside a 25 km radius
  private def grid(s: SparkSession) = {
    import s.implicits._
    (for { i <- -20 to 20; j <- -20 to 20 }
      yield (i.toLong * 41 + j, 52.2297 + i * 0.01, 21.0122 + j * 0.016))
      .toDF("id", "lat", "lon")
  }

  test("haversine_distance is bit-equal to the composed built-in tree") {
    withExtendedSession { s =>
      val rows = grid(s).select(
        HaversineDistance.haversineDistance(lit(52.2297), lit(21.0122),
          col("lat"), col("lon")).as("named"),
        graft.ops.Exprs.haversineMeters(lit(52.2297), lit(21.0122),
          col("lat"), col("lon")).as("composed")).collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"bit mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    }
  }

  test("radius predicate gains scan-pushed bounding-box conjuncts, same rows") {
    withExtendedSession { s =>
      val dir = java.nio.file.Files.createTempDirectory("graft-geo").toString
      try {
        grid(s).write.mode("overwrite").parquet(dir)
        val pred = HaversineDistance.haversineDistance(lit(52.2297),
          lit(21.0122), col("lat"), col("lon")) <= lit(25000.0)
        val q = s.read.parquet(dir).filter(pred)
        // 1. the injected rule fired: optimized plan carries the derived
        //    lat bounds (the circle alone derives nothing pushable)
        val opt = q.queryExecution.optimizedPlan.toString
        assert(opt.contains("52.0048") || opt.contains("(lat"),
          s"no bounding-box conjunct in optimized plan:\n$opt")
        // 2. the bounds REACH the scan: PushedFilters on both lat and lon
        //    (read from the scan node's metadata — plan toString truncates
        //    long filter lists)
        val pushed = q.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metadata.getOrElse("PushedFilters", "")
        }.mkString
        assert(pushed.contains("GreaterThanOrEqual(lat") &&
          pushed.contains("LessThanOrEqual(lat") &&
          pushed.contains("GreaterThanOrEqual(lon") &&
          pushed.contains("LessThanOrEqual(lon"),
          s"bbox not pushed to parquet scan: $pushed")
        // 3. identical rows vs the composed predicate WITHOUT the extension
        //    (the base session has no rule injected)
        val got = q.select("id").collect().map(_.getLong(0)).sorted
        val want = spark.read.parquet(dir)
          .filter(graft.ops.Exprs.haversineMeters(lit(52.2297), lit(21.0122),
            col("lat"), col("lon")) <= lit(25000.0))
          .select("id").collect().map(_.getLong(0)).sorted
        assert(got.nonEmpty && got.length < 41 * 41) // box actually selective
        assert(got.sameElements(want), "bounding box changed the result set")
      } finally {
        scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
      }
    }
  }

  test("dot_product / cosine_similarity SQL functions are bit-equal to the Column API") {
    withExtendedSession { s =>
      import s.implicits._
      val df = graft.model.Tables.embeddings(s, sfDir).limit(50)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
      df.createOrReplaceTempView("emb_ext")
      val sqlRows = s.sql(
        """SELECT a.vec_id AS ia, b.vec_id AS ib,
          |  dot_product(a.v, b.v) AS dp,
          |  cosine_similarity(a.v, b.v) AS cs
          |FROM emb_ext a JOIN emb_ext b ON a.vec_id < b.vec_id
          |ORDER BY ia, ib""".stripMargin).collect()
      val colRows = df.as("a").join(df.as("b"), $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
          graft.ops.Exprs.dotProduct($"a.v", $"b.v").as("dp"),
          graft.ops.Exprs.cosineSim($"a.v", $"b.v").as("cs"))
        .orderBy("ia", "ib").collect()
      assert(sqlRows.length == colRows.length && sqlRows.nonEmpty)
      sqlRows.zip(colRows).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(y.getDouble(2)), "dot mismatch")
        assert(java.lang.Double.doubleToLongBits(x.getDouble(3)) ==
          java.lang.Double.doubleToLongBits(y.getDouble(3)), "cosine mismatch")
      }
    }
  }

  test("haversine_distance is callable from SQL in the extended session") {
    withExtendedSession { s =>
      val d = s.sql(
        "SELECT haversine_distance(52.2297D, 21.0122D, 52.4064D, 16.9252D) AS d")
        .head().getDouble(0)
      // Warsaw → Poznań ≈ 279 km
      assert(d > 270000 && d < 290000, s"unexpected distance $d")
    }
  }
}
