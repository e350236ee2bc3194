package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names (builder-side iteration
    // aid) restrict the dump; the driver's 2-arg call dumps everything
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // fail fast on a misspelled name: a silent no-match dump would feed
    // check.py an empty directory and report phantom failures
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = Session()
    // SPARK_GRAFT_ANSI=true sweeps the whole surface under Spark-4 ANSI
    // semantics (cast overflow / x÷0 / array-index THROW instead of
    // null/wrap) — proves the exact-arithmetic discipline holds where
    // SURVEY §5.3 only asserted it (tools/ansicheck.json, round 13)
    spark.conf.set("spark.sql.ansi.enabled",
      sys.env.getOrElse("SPARK_GRAFT_ANSI", "false"))
    new java.io.File(outDir).mkdirs()
    // Per-query failures are COLLECTED, not just logged: round 8 proved a
    // silent skip turns into a correctness artifact that omits the broken
    // queries and reads all-green (ADVICE r8 #1). Every failure lands in
    // outDir/errors.json with its exception text, and the run exits
    // nonzero so the driver can't record the round as a clean pass.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // watchdog budget per query: a hung query must become a recorded
    // timeout, not a stalled round (sf0.01 queries run well under a minute;
    // the budget is deliberately generous for loaded driver boxes)
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "900").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      Watchdog.run(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case Left(msg) =>
          failures(name) = msg
          System.err.println(s"[verify] $name failed: $msg")
        case Right(_) => ()
      }
      Session.release(spark)
    }
    // inverse of ToolPaths.jsonString, for re-reading a previous dump's
    // oracle file
    def unq(s: String): String = {
      val b = new StringBuilder; var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' =>
            require(i + 6 <= s.length,
              s"truncated \\u escape in oracle_sql.json near …${s.drop(math.max(0, i - 20))}")
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => b += c; i += 2
        } else { b += s(i); i += 1 }
      }
      b.toString
    }
    // Filtered runs dump only the matching oracles so check.py never
    // reports spurious missing-result failures for unrequested queries —
    // but when the outDir ALREADY holds a previous dump, a filtered run is
    // an incremental top-up (the round-13 pattern: add one new query to an
    // existing 200-query sweep dir) and clobbering oracle_sql.json with the
    // 1-entry subset silently shrinks the re-checked surface to 1. Merge:
    // keep every existing oracle whose name isn't being re-dumped.
    val existing: Map[String, String] = {
      val p = Paths.get(s"$outDir/oracle_sql.json")
      if (only.nonEmpty && Files.exists(p)) {
        val txt = Files.readString(p)
        val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
        // loud-fail on a corrupted/reformatted dump: after removing every
        // well-formed "k": "v" pair, only {} , and whitespace may remain —
        // a regex that silently DROPPED a malformed entry would shrink the
        // re-checked surface without any error (ADVICE r13)
        val residue = pair.replaceAllIn(txt, "").replaceAll("[\\s,{}]", "")
        require(residue.isEmpty,
          s"malformed oracle_sql.json at $p (unparsed: ${residue.take(80)}…); " +
            "refusing to merge — delete the file or fix it")
        pair.findAllMatchIn(txt)
          .map(m => unq(m.group(1)) -> unq(m.group(2))).toMap
      } else Map.empty
    }
    // Merge rule (ADVICE r13, medium): for every name the CURRENT build
    // knows, dump the CURRENT oracle SQL — even for queries not re-run this
    // invocation — so a stale result parquet left in outDir is compared
    // against today's oracle and fails loudly instead of silently passing
    // against the oracle it was dumped with. Old-file entries survive only
    // for names this build no longer declares (renamed/removed queries
    // whose parquet still sits in the dir).
    val json = (existing.map { case (k, v) =>
        k -> SparkEntry.oracleSql.getOrElse(k, v)
      } ++ SparkEntry.oracleSql
        .filter { case (k, _) => only.isEmpty || only(k) })
      .map { case (k, v) => s"${ToolPaths.jsonString(k)}: ${ToolPaths.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written — {} on a clean run — so a comparator can distinguish
    // "query errored, message here" from "query was never requested".
    val errJson = failures
      .map { case (k, v) => s"${ToolPaths.jsonString(k)}: ${ToolPaths.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
