package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Dev utility (not part of the library surface): synthesize a larger scale
  * factor from an existing testdata directory by REPLICATION with
  * foreign-key-consistent key offsets, so the scale story (VERDICT r6 next
  * round #1) can be MEASURED instead of asserted.
  *
  * Usage: sbt 'runMain graft.ScaleGen [srcDir] [outDir] [replicas]'
  * Default: /root/testdata/sf0.1 → tmp/sf1 ×10.
  *
  * Replication rules:
  *  - Every table key gets `key + r · stride` (stride = max(key)+1), with
  *    the SAME stride applied to each referencing column — so each replica
  *    is a disjoint island with the original's join cardinalities, and
  *    total join/agg work scales linearly with the replica count.
  *  - `region`/`nation` stay single-copy (dimensions don't scale with fact
  *    data; nationkey references remain valid in every island).
  *  - `documents.text` is token-TAGGED per replica (token w →
  *    "w~r" + 4 md5(w:r)-derived suffix chars for r > 0): a bijective
  *    token rename preserves the within-island near-dup structure
  *    EXACTLY (shingle equality is invariant under a bijection), while
  *    islands get disjoint vocabularies — cross-island Jaccard is 0 for
  *    every document, so replicas can NEVER become artificial
  *    near-duplicates for any SHINGLE-based family. (Round 7
  *    used token ROTATION by 7·r, which collides mod document length:
  *    an L-token doc has only L distinct rotations, so at ≥ 10 replicas
  *    short docs formed identical cross-island texts — 30-member
  *    duplicate cliques, 2.2M candidate pairs at sf3 vs ~256 at sf0.1 —
  *    quadratically inflating every banding measurement, exactly the
  *    poisoning this transform exists to avoid. Tagging also grows the
  *    vocabulary with the corpus, which is the Heaps-law behavior a real
  *    crawl exhibits, where rotation froze it at ~930 shingles.)
  *    The md5 suffix (round 10) decorrelates BYTE statistics too: a
  *    constant "~r" tag shifts every block's byte mean by the same
  *    amount, so the byte-level block-mean signature of q_phash_pairs
  *    saw replicas as hamming-≤8 near-dups of their original — measured
  *    1858 of 2250 replica pairs colliding at sf1, a quadratic pair
  *    explosion (375 s at the ×30 point) of exactly the artificial-
  *    near-dup class the shingle families were already protected from.
  *    A per-(word, replica) pseudorandom suffix shifts each hash block's
  *    mean independently, so cross-island byte signatures land at
  *    random-pair hamming distances while the bijection (and hence every
  *    shingle measurement) is untouched.
  *  - `embeddings.embedding` is dimension-rotated by r for the same
  *    reason: norms and within-island cosine structure survive, while
  *    cross-island cosines stay at random-vector levels.
  *  - `events.ts` passes through in whatever layout the source declares
  *    (BIGINT nanos under the nanosAsLong read of TIMESTAMP(NANOS)
  *    sources; TIMESTAMP_NTZ for the current µs testdata) —
  *    `Tables.events` type-dispatches on read, so either output layout
  *    reaches queries as the same µs TimestampType.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out  = args.lift(1).getOrElse("tmp/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session()

    def raw(t: String): DataFrame = Tables.table(spark, src, t)
    def stride(t: String, k: String): Long =
      raw(t).agg(max(col(k))).head().getLong(0) + 1L
    // replicate each row `reps` times, tagged with its replica index
    def rep(df: DataFrame): DataFrame =
      df.select(col("*"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("__r"))
    def write(df: DataFrame, t: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      System.err.println(s"[scalegen] wrote $t")
    }

    val (so, sc, sp, ss) = (stride("orders", "o_orderkey"),
      stride("customer", "c_custkey"), stride("part", "p_partkey"),
      stride("supplier", "s_suppkey"))
    val (se, su) = (stride("events", "event_id"), stride("events", "user_id"))
    val (sd, sv) = (stride("documents", "doc_id"),
      stride("embeddings", "vec_id"))

    raw("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    raw("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")

    def off(c: String, s: Long) = (col(c) + col("__r") * s).as(c)
    // entity names are REGENERATED from the offset key (round 13): TPC-H's
    // name↔key invariant ("Customer#%09d") must hold at every scale, or
    // each replica carries an exact duplicate of every original name and
    // q_entity_match's (masked-name, nation) blocks grow ∝ replicas —
    // candidate pairs then grow quadratically in the replica count
    // (measured: 30→100× exponent band [1.10, 1.15] on duplicated names,
    // the one flag of the round-13 sweep; a real registry grows NAMES with
    // N, which is exactly what the rewrite restores).
    def keyName(prefix: String, k: Column) =
      concat(lit(prefix), lpad(k.cast("string"), 9, "0"))
    write(rep(raw("customer"))
      .select(off("c_custkey", sc), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .select(col("c_custkey"), keyName("Customer#", col("c_custkey"))
        .as("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")),
      "customer", 4)
    write(rep(raw("supplier"))
      .select(off("s_suppkey", ss), col("s_nationkey"), col("s_acctbal"))
      .select(col("s_suppkey"), keyName("Supplier#", col("s_suppkey"))
        .as("s_name"), col("s_nationkey"), col("s_acctbal")),
      "supplier", 2)
    write(rep(raw("part")).select(off("p_partkey", sp), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part", 4)
    write(rep(raw("orders")).select(off("o_orderkey", so),
      off("o_custkey", sc), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")), "orders", 8)
    write(rep(raw("lineitem")).select(off("l_orderkey", so),
      off("l_partkey", sp), off("l_suppkey", ss), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")), "lineitem", 16)
    write(rep(raw("events")).select(off("event_id", se), col("ts"),
      off("user_id", su), col("event_type"), col("value"), col("props")),
      "events", 8)

    // per-replica token tagging (identity for replica 0): a bijective
    // rename — within-island shingle structure is EXACTLY preserved,
    // cross-island vocabularies are disjoint (see the header for why
    // rotation was wrong)
    // Suffix chars alternate between a LOW single-byte char (35..122) and a
    // HIGH two-byte-UTF-8 code point (161..254) on the hash parity: the
    // per-char byte-sum then swings between ~35 and ~330, which is what
    // moves block means past their sign margins (an all-hex or all-high
    // suffix has far too little byte variance — measured le8 collision
    // rates 8–63% vs 0/9000 for this mix at 4 chars).
    def sufChar(j: Int): String = {
      val v = s"cast(conv(substr(md5(concat(w, ':', cast(__r as string)))," +
        s" ${j * 2 - 1}, 2), 16, 10) as int)"
      s"chr(CASE WHEN $v % 2 = 0 THEN 35 + $v % 88 ELSE 161 + $v % 94 END)"
    }
    val tagText = expr(
      s"""CASE WHEN __r = 0 THEN text
         |ELSE array_join(
         |  transform(split(text, ' '),
         |    w -> concat(w, '~', cast(__r as string),
         |      ${(1 to 4).map(sufChar).mkString(", ")})), ' ')
         |END""".stripMargin)
    write(rep(raw("documents")).select(off("doc_id", sd),
      tagText.as("text"), col("lang"), col("source"), col("n_chars")),
      "documents", 8)

    // dimension rotation by r (mod dim): identity for replica 0
    val rotVec = expr(
      """CASE WHEN __r % size(embedding) = 0 THEN embedding
        |ELSE concat(
        |  slice(embedding, cast(__r % size(embedding) as int) + 1,
        |    size(embedding) - cast(__r % size(embedding) as int)),
        |  slice(embedding, 1, cast(__r % size(embedding) as int)))
        |END""".stripMargin)
    write(rep(raw("embeddings")).select(off("vec_id", sv),
      rotVec.as("embedding"), col("label")), "embeddings", 4)

    System.err.println(s"[scalegen] done: $out = $src × $reps")
    spark.stop()
  }
}
