package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Dev utility (not part of the library surface): derive a DIFFERENT data
  * distribution from an existing testdata directory, so the verify gate can
  * prove the engine's adaptive thresholds (SetSimilarity's banding ladder,
  * Similarity's LSH bit-width and IVF modulus, the `doc_id < K` probe
  * prefixes) are not overfit to the single driver-generated seed every
  * prior round ran on (VERDICT r12 next-round #1). The DuckDB oracle makes
  * this free: check.py runs the SAME SQL over the SAME transformed parquet,
  * so hash-equality stays a valid gate on ANY input distribution.
  *
  * Usage: sbt 'runMain graft.DataVariant <srcDir> <outDir> <seed|skew> [n]'
  *
  * `seed` mode — a measure-preserving reshuffle that changes every hash
  * the engine's adaptive machinery consumes while keeping the data
  * REALISTIC (uniqueness, FK consistency, near-dup ground truth all
  * survive):
  *  - every key family gets a bijective affine permutation
  *    k → (a·k + b) mod m over its dense [0, m) range (a coprime to m,
  *    both seed-derived), applied consistently to the PK and every FK —
  *    join cardinalities are IDENTICAL, but which rows land in the
  *    `doc_id < K` probe prefixes, which ids tie-break windows, and how
  *    keys hash into shuffles all change;
  *  - documents.text gets a BIJECTIVE token rename (w → w + 4
  *    seed-salted md5 chars, the ScaleGen low/high byte-mix recipe):
  *    shingle equality is invariant under a bijection, so the exact
  *    near-dup ground truth is preserved, while every MinHash signature,
  *    band key, SimHash plane, byte-level pHash block mean, and
  *    vocabulary hash moves;
  *  - embeddings get an ORTHOGONAL transform (dimension rotation by
  *    seed mod dim, then seed-derived per-dimension sign flips): exact
  *    cosine/norm structure is preserved (floats negate and permute
  *    exactly), but every LSH hyperplane projection and IVF cell
  *    assignment changes.
  *
  * `skew` mode — a Zipf-ish hot head on the three join/group keys the
  * skew machinery exists for, everything else copied verbatim:
  *  - events.user_id: ~40% of events collapse onto users 0/1/2
  *    (25/10/5%-ish split by event_id residue);
  *  - orders.o_custkey: 30% of orders redirect to customer 0;
  *  - lineitem.l_suppkey: 40% of lineitems redirect to supplier 0 —
  *    the exact key q_salted_join (ops/Skew.saltedJoin) spreads, so the
  *    skew-stress bench (tools/skewcheck.json) measures salting on data
  *    that actually has a hot key.
  * All redirect targets are existing keys, so FK validity holds and every
  * join keeps its semantics — just with the skewed cardinalities a real
  * production key distribution would show.
  */
object DataVariant {
  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out  = args.lift(1).getOrElse("tmp/sfvar")
    val mode = args.lift(2).getOrElse("seed")
    val seed = args.lift(3).map(_.toInt).getOrElse(17)
    require(mode == "seed" || mode == "skew", s"mode must be seed|skew: $mode")
    val spark = Session()

    def raw(t: String): DataFrame = Tables.table(spark, src, t)
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[datavariant:$mode] wrote $t")
    }

    if (mode == "skew") {
      Seq("region", "nation", "customer", "supplier", "part",
        "documents", "embeddings").foreach(t => write(raw(t), t))
      write(raw("events").withColumn("user_id",
        when(pmod(col("event_id"), lit(100L)) < 25, lit(0L))
          .when(pmod(col("event_id"), lit(100L)) < 35, lit(1L))
          .when(pmod(col("event_id"), lit(100L)) < 40, lit(2L))
          .otherwise(col("user_id"))), "events")
      write(raw("orders").withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(100L)) < 30, lit(0L))
          .otherwise(col("o_custkey"))), "orders")
      write(raw("lineitem").withColumn("l_suppkey",
        when(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(10L)) < 4,
          lit(0L)).otherwise(col("l_suppkey"))), "lineitem")
      System.err.println(s"[datavariant] done: $out = skew($src)")
      spark.stop()
      return
    }

    // ── seed mode ────────────────────────────────────────────────────────
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    /** Bijective affine map over the family's dense key range [0, m). */
    def perm(t: String, k: String): Column => Column = {
      val m = raw(t).agg(max(col(k))).head().getLong(0) + 1L
      var a = 2L * (seed % 50) + 3L
      while (gcd(a, m) != 1L) a += 2L
      val b = (seed.toLong * 31L) % m
      c => pmod(c * a + b, lit(m))
    }
    val (pOrd, pCus, pPar, pSup) = (perm("orders", "o_orderkey"),
      perm("customer", "c_custkey"), perm("part", "p_partkey"),
      perm("supplier", "s_suppkey"))
    val (pEvt, pUsr) = (perm("events", "event_id"), perm("events", "user_id"))
    val (pDoc, pVec) = (perm("documents", "doc_id"),
      perm("embeddings", "vec_id"))

    Seq("region", "nation").foreach(t => write(raw(t), t))
    write(raw("customer").withColumn("c_custkey", pCus(col("c_custkey"))),
      "customer")
    write(raw("supplier").withColumn("s_suppkey", pSup(col("s_suppkey"))),
      "supplier")
    write(raw("part").withColumn("p_partkey", pPar(col("p_partkey"))), "part")
    write(raw("orders")
      .withColumn("o_orderkey", pOrd(col("o_orderkey")))
      .withColumn("o_custkey", pCus(col("o_custkey"))), "orders")
    write(raw("lineitem")
      .withColumn("l_orderkey", pOrd(col("l_orderkey")))
      .withColumn("l_partkey", pPar(col("l_partkey")))
      .withColumn("l_suppkey", pSup(col("l_suppkey"))), "lineitem")
    write(raw("events")
      .withColumn("event_id", pEvt(col("event_id")))
      .withColumn("user_id", pUsr(col("user_id"))), "events")

    // bijective token rename (ScaleGen's low/high byte-mix suffix, salted
    // by the variant seed instead of the replica index)
    def sufChar(j: Int): String = {
      val v = s"cast(conv(substr(md5(concat(w, ':s$seed'))," +
        s" ${j * 2 - 1}, 2), 16, 10) as int)"
      s"chr(CASE WHEN $v % 2 = 0 THEN 35 + $v % 88 ELSE 161 + $v % 94 END)"
    }
    val renameText = expr(
      s"""array_join(
         |  transform(split(text, ' '),
         |    w -> concat(w, ${(1 to 4).map(sufChar).mkString(", ")})), ' ')
         |""".stripMargin)
    write(raw("documents")
      .withColumn("doc_id", pDoc(col("doc_id")))
      .withColumn("text", renameText), "documents")

    // orthogonal transform: rotate dims by seed, then sign-flip dims whose
    // seed-salted md5 parity is odd — cosines/norms exact-invariant
    val rotVec = expr(
      s"""CASE WHEN $seed % size(embedding) = 0 THEN embedding
         |ELSE concat(
         |  slice(embedding, $seed % size(embedding) + 1,
         |    size(embedding) - $seed % size(embedding)),
         |  slice(embedding, 1, $seed % size(embedding)))
         |END""".stripMargin)
    val signVec = expr(
      s"""transform(embedding, (x, i) ->
         |  CASE WHEN cast(conv(substr(md5(concat(cast(i as string),
         |    ':f$seed')), 1, 2), 16, 10) as int) % 2 = 1
         |  THEN -x ELSE x END)""".stripMargin)
    write(raw("embeddings")
      .withColumn("vec_id", pVec(col("vec_id")))
      .withColumn("embedding", rotVec)
      .withColumn("embedding", signVec), "embeddings")

    System.err.println(s"[datavariant] done: $out = seed$seed($src)")
    spark.stop()
  }
}
