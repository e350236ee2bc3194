package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink/source fidelity pins behind q_csv_roundtrip's hash gate: exact
  * double round-tripping through the CSV text form, and the permissive /
  * drop-malformed error-handling semantics of the CSV source (the §2.10
  * analog of SnapshotsSpec's JSON permissive-read pins).
  */
/** Test double for the K2 object-store sink: a Hadoop FileSystem bound to
  * a non-local scheme, registered via `fs.mockstore.impl` exactly the way
  * the GCS/S3 connectors register theirs — the write path (Spark CSV
  * committer + the BOM rewrite) exercises the same FS indirection a cloud
  * deployment uses, backed by local disk.
  */
class MockObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockstore"
  override def getUri: java.net.URI = java.net.URI.create("mockstore:///")
}

class SinksSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("CSV round-trip preserves doubles bit-exactly (shortest-repr write)") {
    import spark.implicits._
    // adversarial reprs: subnormal-ish, negative zero, many digits, exact
    // halves — shortest-exact Java toString must re-parse to identical bits
    val vals = Seq(0.1, 1.0 / 3.0, 1e-300, -0.0, 123456.789012345,
      2.5, -17.125, 9007199254740993.0)
    val dir = tmp("graft-csv-doubles")
    vals.toDF("v").write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(StructType(Seq(StructField("v", DoubleType))))
      .option("header", "true").csv(dir)
      .as[Double].collect().toSeq
    assert(back.map(java.lang.Double.doubleToRawLongBits).sorted ==
      vals.map(java.lang.Double.doubleToRawLongBits).sorted,
      s"double bits changed through CSV: wrote $vals read $back")
  }

  test("CSV source error handling: PERMISSIVE nulls bad cells, DROPMALFORMED drops rows") {
    val dir = tmp("graft-csv-malformed")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.csv"),
      "id,qty\n1,10.5\n2,not-a-number\n3,7.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", DoubleType)))
    val permissive = spark.read.schema(schema).option("header", "true")
      .csv(dir).collect().sortBy(_.getLong(0))
    assert(permissive.length == 3)
    assert(permissive(1).isNullAt(1), "malformed qty must become null")
    assert(permissive(0).getDouble(1) == 10.5 && permissive(2).getDouble(1) == 7.25)
    val dropped = spark.read.schema(schema).option("header", "true")
      .option("mode", "DROPMALFORMED").csv(dir).collect()
    assert(dropped.length == 2 && dropped.forall(!_.isNullAt(1)),
      "DROPMALFORMED must drop exactly the malformed row")
  }

  test("buildOnceDir builds exactly once per (purpose, input dir)") {
    var builds = 0
    val d1 = graft.queries.Sinks.buildOnceDir("spec-once", sfDir) { p =>
      builds += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "x"), "1")
      ()
    }
    // second call: same dir back, build closure NOT invoked (this is the
    // "second run does zero index-write jobs" contract — the persisted-
    // index queries' only write sits inside the closure)
    val d2 = graft.queries.Sinks.buildOnceDir("spec-once", sfDir) { _ =>
      builds += 1; ()
    }
    assert(d1 == d2 && builds == 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d1, "x")))
    // a different input dir is a different index
    val d3 = graft.queries.Sinks.buildOnceDir("spec-once", "/elsewhere") {
      _ => builds += 1; ()
    }
    assert(d3 != d1 && builds == 2)
  }

  test("buildOnceDir: failed build leaves no mapping; reentrancy is loud") {
    // a failed build must NOT poison the memo — the next caller rebuilds
    // instead of probing a half-written directory
    var attempts = 0
    val boom = intercept[RuntimeException] {
      graft.queries.Sinks.buildOnceDir("spec-fail", sfDir) { p =>
        // leave a half-written file behind before dying: the retry's
        // closure must find a CLEAN directory (ADVICE r15 — Spark writes
        // without overwrite mode fail on an existing path)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p, "partial.parquet"),
          Array[Byte](1, 2, 3))
        attempts += 1; sys.error("index build died")
      }
    }
    assert(boom.getMessage.contains("index build died"))
    val ok = graft.queries.Sinks.buildOnceDir("spec-fail", sfDir) { p =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(p, "partial.parquet")),
        "failed build's half-written files must be deleted before retry")
      attempts += 1; ()
    }
    assert(attempts == 2 && ok.nonEmpty)
    // a SAME-KEY reentrant call from inside the build closure fails with a
    // named error instead of deadlocking on its own future (ADVICE r14 —
    // the old computeIfAbsent form died with CHM's opaque "recursive
    // update"; distinct keys now never contend at all)
    val re = intercept[IllegalStateException] {
      graft.queries.Sinks.buildOnceDir("spec-reent", sfDir) { _ =>
        graft.queries.Sinks.buildOnceDir("spec-reent", sfDir)(_ => ())
        ()
      }
    }
    assert(re.getMessage.contains("reentrant"))
    // the reentrant failure propagated out of the owner's build, so the
    // key is unmapped and a clean later build succeeds
    val after = graft.queries.Sinks.buildOnceDir("spec-reent", sfDir)(_ => ())
    assert(after.nonEmpty)
  }

  test("writeCsv refuses to driver-buffer a part file over the cap") {
    // VERDICT r14 #6: the BOM rewrite buffers the whole part file on the
    // driver — safe only under the flagship's bounded-output contract, and
    // now guarded: over the cap the sink fails loudly BEFORE buffering.
    val result = graft.pipeline.AirQuality.flagship(spark)
    val e = intercept[RuntimeException] {
      graft.pipeline.AirQuality.writeCsv(result, tmp("graft-csv-cap"), cap = 16)
    }
    assert(e.getMessage.contains("driver-buffer cap"))
    // under the default cap the same frame writes fine (BOM intact)
    val dir = tmp("graft-csv-ok")
    graft.pipeline.AirQuality.writeCsv(result, dir)
    val part = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(fail(s"no CSV part under $dir"))
    val head = java.nio.file.Files.readAllBytes(part.toPath).take(3)
    assert(head.sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))
  }

  test("K2: CSV upload through a non-local object-store scheme") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    // register the test-double object store the way a real deployment
    // registers GCS (fs.gs.impl) / S3 (fs.s3a.impl): a scheme→FileSystem
    // binding the Hadoop FS API resolves at write time
    conf.set("fs.mockstore.impl", classOf[MockObjectStoreFs].getName)
    val dest = "mockstore:" + tmp("graft-k2-upload") + "/export"
    val result = graft.pipeline.AirQuality.flagship(spark)
    graft.pipeline.AirQuality.uploadCsv(result, dest)
    val fs = new Path(dest).getFileSystem(conf)
    assert(fs.isInstanceOf[MockObjectStoreFs],
      s"dest must resolve to the mock scheme, got ${fs.getClass}")
    val part = fs.listStatus(new Path(dest)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
      .getOrElse(fail(s"no CSV part under $dest"))
    val in = fs.open(part)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmpB = new Array[Byte](65536)
        var n = in.read(tmpB)
        while (n >= 0) { buf.write(tmpB, 0, n); n = in.read(tmpB) }
        buf.toByteArray
      } finally in.close()
    // the reference's utf-8-sig BOM, then the fixed six-column header
    assert(bytes.take(3).sameElements(
      Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)), "missing UTF-8 BOM")
    val text = new String(bytes.drop(3), "UTF-8")
    assert(text.linesIterator.next() ==
      "city,location,parameter,value,unit,date")
    assert(text.linesIterator.size - 1 == result.count())
  }

  test("q_phrase_search: repeat execution reuses the persisted index") {
    val run = SparkEntry.queries("q_phrase_search")
    val first = run(spark, sfDir).collect()
    val again = run(spark, sfDir).collect()
    assert(first.sameElements(again))
    spark.sharedState.cacheManager.clearCache()
  }
}
