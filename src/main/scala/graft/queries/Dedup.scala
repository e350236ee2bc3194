package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables._
import graft.ops.Exprs._

/** Deduplication family over `documents` — exact, MinHash+LSH, SimHash and
  * n-gram Jaccard (builder prompt's training-data operators).
  *
  * Portability: every hash is [[graft.ops.Exprs.md5Long]] (md5-hex-prefix →
  * BIGINT), so the DuckDB oracles compute the identical integers — the whole
  * family is hash-exact across engines, no float tolerance anywhere.
  *
  * Scale: exact dedup is one hash-groupBy (shuffle on the 60-bit key);
  * MinHash banding turns all-pairs O(n²) into a groupBy on band signatures —
  * at 100 TB candidate pairs only materialize within a bucket. SimHash pairs
  * and Jaccard pairs are likewise bounded by an equi-join key (band / shared
  * shingle), never a cross join.
  */
object Dedup {

  private def toks = split(col("text"), " ")

  // Measurement-probe discipline (mirrors Similarity.RecallQueries): the two
  // recall queries bound BOTH their candidate and exact-truth sides to pairs
  // whose smaller id lies in a CONSTANT-size probe prefix (doc_id < 200 —
  // dense ids, so the probe is 200 docs at every SF). The exact-truth joins
  // are then O(probe × corpus) — linear — instead of the O(N²) all-pairs
  // frontier a full-corpus truth side creates at 100×.
  private val ProbeDocs = 200
  private val probeSqlA = s"a.doc_id < $ProbeDocs"

  // Corpus-count memo (the Similarity.embeddingCount discipline): the
  // adaptive pigeonhole key width needs |documents| at plan-construction
  // time; memoized per immutable corpus directory so plan building costs at
  // most one counting job per corpus.
  private val corpusCount =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // private[queries]: q_phash_pairs (Multimodal.scala) sizes its adaptive
  // pigeonhole key from the same memoized corpus count
  private[queries] def docCount(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    corpusCount.computeIfAbsent(d, dir => documents(s, dir).count())

  /** The MinHash banding pipeline as a DuckDB CTE chain ending in
    * `pairs(doc_a, doc_b)` — shared by the pair query and the clustering
    * query so both oracles derive from the identical candidate graph.
    * `private[queries]`: q_stream_dedup_minhash (StreamingExec.scala)
    * oracles its distinct band-signature set from the same `bands` CTE,
    * so the streaming and batch LSH index derivations can never drift.
    */
  private[queries] val MinhashPairsCte: String =
    """tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |sh AS (SELECT doc_id,
      |    CASE WHEN len(ts) >= 3
      |         THEN list_transform(range(1, len(ts)-1),
      |                             i -> array_to_string(ts[i:i+2], ' '))
      |         ELSE [array_to_string(ts, ' ')] END AS shingles
      |  FROM tok),
      |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hv FROM e),
      |hs AS (SELECT doc_id, j,
      |    min(xor(hv, ('0x' || substr(md5('perm:' || j::VARCHAR), 1, 15))::BIGINT)) AS mh
      |  FROM h CROSS JOIN range(16) r(j) GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, j // 4 AS band,
      |    string_agg(mh::VARCHAR, '-' ORDER BY j) AS sig
      |  FROM hs GROUP BY doc_id, j // 4),
      |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  /** The adaptive-banded n-gram Jaccard pipeline as a DuckDB CTE chain
    * ending in `jp(doc_a, doc_b, jacc)` — shared by the pair query and the
    * recall query so both oracles derive from the identical candidate
    * graph AND the identical bands×rows ladder
    * ([[graft.ops.SetSimilarity.adaptiveBanding]]'s `prm` CTE — keep the
    * two in lockstep).
    */
  private val NgramBandedCte: String =
    """tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(ts) >= 2
      |         THEN list_transform(range(1, len(ts)),
      |                             i -> array_to_string(ts[i:i+1], ' '))
      |         ELSE [array_to_string(ts, ' ')] END) AS gs
      |  FROM tok),
      |nn AS (SELECT count(*) AS n FROM documents),
      |prm AS (SELECT r, CASE r WHEN 3 THEN 6 WHEN 4 THEN 8 WHEN 5 THEN 11
      |                         WHEN 6 THEN 14 WHEN 7 THEN 17 ELSE 22 END AS b
      |  FROM (SELECT 3 + (n > 10000)::INT + (n > 100000)::INT
      |               + (n > 1000000)::INT + (n > 10000000)::INT
      |               + (n > 100000000)::INT AS r FROM nn)),
      |e AS (SELECT doc_id, unnest(gs) AS g FROM sh),
      |h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM e),
      |hs AS (SELECT doc_id, j,
      |    min(xor(hv, ('0x' || substr(md5('jperm:' || j::VARCHAR), 1, 15))::BIGINT)) AS mh
      |  FROM h CROSS JOIN (SELECT unnest(range((SELECT r*b FROM prm))) AS j) rj
      |  GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, j // (SELECT r FROM prm) AS band,
      |    string_agg(mh::VARCHAR, '-' ORDER BY j) AS sig
      |  FROM hs GROUP BY doc_id, j // (SELECT r FROM prm)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
      |pr AS (SELECT doc_a, doc_b, count(*) AS shared
      |  FROM cand JOIN h a ON a.doc_id = doc_a
      |             JOIN h b ON b.doc_id = doc_b AND b.hv = a.hv
      |  GROUP BY doc_a, doc_b),
      |jp AS (SELECT doc_a, doc_b,
      |    CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jacc
      |  FROM pr JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.28)""".stripMargin

  /** MinHash + LSH banding candidate pairs (doc_a < doc_b, distinct).
    *
    * 16 min-aggregate COLUMNS over the shingle rows (not a ×16 row
    * blowup): partial aggregation shrinks each partition to one row per doc
    * before the shuffle — the 100 TB-safe formulation. Bands then unpivot
    * and self-join on (band, signature), so candidates materialize only
    * within a bucket.
    */
  /** Hashed 3-gram shingle rows (doc_id, hv) — the shared first stage of the
    * MinHash family: signatures aggregate over it, and the recall query's
    * exact-truth side reads the same rows (distinct) for its inverted index.
    */
  private def shingleHashes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    spread(documents(s, d))
      .select(col("doc_id"), explode(wordShingles(toks, 3)).as("s"))
      .select(col("doc_id"), md5Long(col("s")).as("hv"))

  private[graft] def minhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    minhashPairsFrom(shingleHashes(s, d))

  /** (doc_id, band, sig) LSH band signatures — 16 min-aggregate columns
    * unpivoted to 4 bands of 4; the index rows an incremental-dedup
    * deployment persists.
    */
  private def minhashBands(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val minAggs = (0 until 16).map(j =>
      min(col("hv").bitwiseXOR(lit(md5LongLocal(s"perm:$j")))).as(s"h$j"))
    val hs = sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws("-", (0 until 4).map(k => col(s"h${b * 4 + k}")
          .cast("string")): _*).as("sig"))
    }
    hs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  private def minhashPairsFrom(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = minhashBands(sh)
      // ledger M28: all five callers slower without it
      .cache() // self-joined below: compute the signatures once
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Shared 20-token rolling-window fingerprint frame — the `t`/`w`/`f`
    * CTE chain ending in `f(doc_id, pos, fp)`, used by q_dedup_substring,
    * q_dedup_spans and q_span_strip. The window width is substring
    * dedup's dial (20 here; ~50 for production corpora) — ONE definition
    * so re-tuning it cannot desynchronize the three queries or their
    * oracles. Declared before `all`, which interpolates it at object
    * init.
    */
  private val WindowFpCte: String =
    """t AS (SELECT doc_id, string_split(text,' ') AS ts
      |  FROM documents),
      |w AS (SELECT doc_id, ts,
      |        unnest(generate_series(1, len(ts) - 19)) AS pos
      |      FROM t WHERE len(ts) >= 20),
      |f AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        ('0x' || substr(md5(array_to_string(ts[pos:pos+19], ' ')),
      |                        1, 15))::BIGINT AS fp
      |      FROM w)""".stripMargin

  /** Spark side of [[WindowFpCte]]: one row per 20-token window position
    * with its 60-bit content fingerprint.
    */
  private def windowFps(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    spread(documents(s, d))
      .select(col("doc_id"), toks.as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= 20)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), col("n") - 19)).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5Long(array_join(slice(col("ts"), col("pos"), lit(20)), " "))
          .as("fp"))

  val all: Seq[Q] = Seq(

    // ── exact dedup: hash-groupBy on a normalization key ────────────────
    // Key = md5 of the first two tokens (full texts are unique in the
    // testdata; a prefix key manufactures real duplicate groups while
    // keeping the operator shape identical to full-text exact dedup).
    Q("q_dedup_exact",
      """WITH t AS (SELECT doc_id,
        |    md5(array_to_string((string_split(text,' '))[1:2], ' ')) AS k
        |  FROM documents)
        |SELECT k, min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM t GROUP BY k ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"),
            md5(array_join(slice(toks, 1, 2), " ")).as("k"))
          .groupBy("k")
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dupes"))
          .orderBy("doc_id")
    },

    // ── MinHash + LSH banding: shingle → 16 minhashes → 4 bands of 4 ────
    // Hash family: ONE md5 per shingle, then 16 xor-permutations
    // h_j = md5(s) XOR c_j (xor by a constant is a bijection on the 60-bit
    // hash space, i.e. a valid MinHash permutation) — 16× fewer md5
    // evaluations than seeding md5 per permutation, on both engines.
    Q("q_dedup_minhash",
      s"""WITH $MinhashPairsCte
        |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin) {
      (s, d) => minhashPairs(s, d).orderBy("doc_a", "doc_b")
    },

    // ── dedup clustering: connected components over the candidate-pair
    //    graph — each component is one duplicate cluster, min doc_id is the
    //    canonical survivor. Spark side iterates min-label propagation
    //    (graft.ops.ConnectedComponents); the oracle computes the identical
    //    components with a recursive CTE. ──────────────────────────────────
    Q("q_dedup_clusters",
      s"""WITH RECURSIVE $MinhashPairsCte,
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS node FROM edges),
        |reach(node, lbl) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v)
        |SELECT node AS doc_id, min(lbl) AS component
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        graft.ops.ConnectedComponents.components(
          minhashPairs(s, d).select(col("doc_a").as("a"), col("doc_b").as("b")),
          "q_dedup_clusters")
          .select(col("node").as("doc_id"), col("component"))
          .orderBy("doc_id")
    },

    // ── the end product: the deduplicated corpus — every cluster keeps its
    //    canonical (min-id) member, all unclustered docs pass through; an
    //    anti-join against the non-canonical members, never a full rewrite ─
    Q("q_dedup_keep",
      s"""WITH RECURSIVE $MinhashPairsCte,
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS node FROM edges),
        |reach(node, lbl) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val dupes = graft.ops.ConnectedComponents.components(
          minhashPairs(s, d).select(col("doc_a").as("a"), col("doc_b").as("b")),
          "q_dedup_keep")
          .filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"))
        // no broadcast hint: the duplicate set scales with the corpus's
        // duplication rate, so let AQE pick broadcast vs shuffle anti-join
        documents(s, d).select("doc_id")
          .join(dupes, Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
    },

    // ── the three-stage dedup chain END TO END, one oracle-hashed plan —
    //    the order every production corpus-dedup runs: exact (normalization
    //    key) → syntactic near-dup (MinHash banding + connected components)
    //    → semantic near-dup (embedding-cosine signature pairs + connected
    //    components), each stage operating only on the previous stage's
    //    survivors. The per-stage operators are each oracle-proven in
    //    isolation (q_dedup_exact / q_dedup_clusters / q_dedup_cosine_
    //    clusters); this query proves the unbroken compose, with per-stage
    //    drop attribution and the canonical survivor for every document —
    //    exactly what q_curation_pipeline does for the quality gates.
    //    Stage-restriction is pair-level semi-joins (banding/signatures are
    //    per-doc deterministic, so filtering pairs to survivors ≡ running
    //    the generator on the survivor corpus — no second candidate pass).
    //    Docs without an embedding (vec space is smaller than doc space)
    //    pass the semantic stage untouched, the honest semantics of a
    //    partially-embedded corpus. (On THIS synthetic corpus the exact
    //    prefix key subsumes the banding stage — every MinHash pair shares
    //    its first two tokens, so stage 2 drops 0 at sf0.01 while exact
    //    drops 143 and cosine 13; the stage still runs its full kernel and
    //    the oracle proves the survivor-restriction logic either way.)
    //    Scale: the two candidate generators are
    //    the bounded bucketed kernels measured in scalecheck; both CC loops
    //    are the pointer-doubling operator with bounded rounds; everything
    //    else is semi/anti/left equi-joins. ─────────────────────────────────
    Q("q_dedup_chain",
      s"""WITH RECURSIVE $MinhashPairsCte,
        |ex AS (SELECT doc_id,
        |    md5(array_to_string((string_split(text,' '))[1:2], ' ')) AS k
        |  FROM documents),
        |exc AS (SELECT k, min(doc_id) AS canon FROM ex GROUP BY k),
        |s1 AS (SELECT ex.doc_id, exc.canon FROM ex JOIN exc USING (k)),
        |s1k AS (SELECT doc_id FROM s1 WHERE doc_id = canon),
        |p2 AS (SELECT doc_a, doc_b FROM pairs
        |       WHERE doc_a IN (SELECT doc_id FROM s1k)
        |         AND doc_b IN (SELECT doc_id FROM s1k)),
        |edges2 AS (SELECT doc_a AS u, doc_b AS v FROM p2
        |           UNION SELECT doc_b, doc_a FROM p2),
        |nodes2 AS (SELECT DISTINCT u AS node FROM edges2),
        |reach2(node, lbl) AS (
        |  SELECT node, node FROM nodes2
        |  UNION
        |  SELECT e.u, r.lbl FROM edges2 e JOIN reach2 r ON r.node = e.v),
        |comp2 AS (SELECT node, min(lbl) AS component FROM reach2 GROUP BY node),
        |s2d AS (SELECT node, component FROM comp2 WHERE node <> component),
        |s2k AS (SELECT doc_id FROM s1k
        |        WHERE doc_id NOT IN (SELECT node FROM s2d)),
        |${graft.queries.Similarity.cosinePairsCte},
        |cp2 AS (SELECT vec_a, vec_b FROM cp
        |        WHERE vec_a IN (SELECT doc_id FROM s2k)
        |          AND vec_b IN (SELECT doc_id FROM s2k)),
        |edges3 AS (SELECT vec_a AS u, vec_b AS v FROM cp2
        |           UNION SELECT vec_b, vec_a FROM cp2),
        |nodes3 AS (SELECT DISTINCT u AS node FROM edges3),
        |reach3(node, lbl) AS (
        |  SELECT node, node FROM nodes3
        |  UNION
        |  SELECT e.u, r.lbl FROM edges3 e JOIN reach3 r ON r.node = e.v),
        |comp3 AS (SELECT node, min(lbl) AS component FROM reach3 GROUP BY node),
        |s3d AS (SELECT node, component FROM comp3 WHERE node <> component)
        |SELECT d.doc_id,
        |  CASE WHEN s1.canon <> d.doc_id THEN 'exact'
        |       WHEN s2d.node IS NOT NULL THEN 'minhash'
        |       WHEN s3d.node IS NOT NULL THEN 'cosine'
        |       ELSE NULL END AS dropped_by,
        |  CASE WHEN s1.canon <> d.doc_id THEN s1.canon
        |       WHEN s2d.node IS NOT NULL THEN s2d.component
        |       WHEN s3d.node IS NOT NULL THEN s3d.component
        |       ELSE d.doc_id END AS canonical
        |FROM documents d
        |JOIN s1 ON s1.doc_id = d.doc_id
        |LEFT JOIN s2d ON s2d.node = d.doc_id
        |LEFT JOIN s3d ON s3d.node = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) {
      (s, d) =>
        val keyed = documents(s, d).select(col("doc_id"),
          md5(array_join(slice(toks, 1, 2), " ")).as("k"))
        val exc = keyed.groupBy("k").agg(min("doc_id").as("canon"))
        val s1 = keyed.join(exc, Seq("k")).select(col("doc_id"), col("canon"))
        val s1k = s1.filter(col("doc_id") === col("canon"))
          // ledger M29: q_dedup_chain slower without its caches
          .select("doc_id").cache() // restricts both downstream generators
        val p2 = minhashPairs(s, d)
          .join(s1k.withColumnRenamed("doc_id", "doc_a"),
            Seq("doc_a"), "left_semi")
          .join(s1k.withColumnRenamed("doc_id", "doc_b"),
            Seq("doc_b"), "left_semi")
        val s2d = graft.ops.ConnectedComponents.components(
          p2.select(col("doc_a").as("a"), col("doc_b").as("b")),
          "q_dedup_chain_minhash")
          .filter(col("node") =!= col("component"))
          // ledger M30: q_dedup_chain slower without its caches
          .select(col("node"), col("component")).cache()
        // ledger M31: q_dedup_chain slower without its caches
        val s2k = s1k.join(s2d.select(col("node").as("doc_id")),
          Seq("doc_id"), "left_anti").cache()
        val cp2 = Similarity.cosinePairs(s, d)
          .join(s2k.withColumnRenamed("doc_id", "vec_a"),
            Seq("vec_a"), "left_semi")
          .join(s2k.withColumnRenamed("doc_id", "vec_b"),
            Seq("vec_b"), "left_semi")
        val s3d = graft.ops.ConnectedComponents.components(
          cp2.select(col("vec_a").as("a"), col("vec_b").as("b")),
          "q_dedup_chain_cosine")
          .filter(col("node") =!= col("component"))
          .select(col("node"), col("component"))
        documents(s, d).select("doc_id")
          .join(s1, Seq("doc_id"))
          .join(s2d.select(col("node").as("doc_id"), col("component").as("c2")),
            Seq("doc_id"), "left")
          .join(s3d.select(col("node").as("doc_id"), col("component").as("c3")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("canon") =!= col("doc_id"), lit("exact"))
              .when(col("c2").isNotNull, lit("minhash"))
              .when(col("c3").isNotNull, lit("cosine"))
              .otherwise(lit(null).cast("string")).as("dropped_by"),
            when(col("canon") =!= col("doc_id"), col("canon"))
              .when(col("c2").isNotNull, col("c2"))
              .when(col("c3").isNotNull, col("c3"))
              .otherwise(col("doc_id")).as("canonical"))
          .orderBy("doc_id")
    },

    // ── incremental dedup: a NEW batch checked against the PERSISTED band
    //    index of the existing corpus — the production shape at lake scale
    //    (nobody re-deduplicates 100 TB per ingest; the increment joins the
    //    stored index). Corpus = hash bucket < 90, batch = bucket ≥ 90 (the
    //    independent md5 split channel); the corpus's (doc_id, band, sig)
    //    rows are STAGED TO PARQUET and read back, so the declared result
    //    is computed from the persisted index exactly as a deployment
    //    would. Per batch doc: how many distinct corpus docs it collides
    //    with, the canonical (min-id) collision, and the drop flag.
    //    Scale: index write/read is partition-parallel; the probe is a
    //    band equi-join; nothing touches corpus text again. ─────────────────
    Q("q_dedup_incremental",
      s"""WITH $MinhashPairsCte,
        |bk AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bkt
        |  FROM documents),
        |idx AS (SELECT b.doc_id AS corpus_id, b.band, b.sig
        |        FROM bands b JOIN bk USING (doc_id) WHERE bkt < 90),
        |bt AS (SELECT b.doc_id, b.band, b.sig
        |       FROM bands b JOIN bk USING (doc_id) WHERE bkt >= 90),
        |hits AS (SELECT bt.doc_id,
        |           count(DISTINCT idx.corpus_id) AS n_matches,
        |           min(idx.corpus_id) AS first_match
        |         FROM bt JOIN idx USING (band, sig) GROUP BY bt.doc_id),
        |batch AS (SELECT DISTINCT doc_id FROM bt)
        |SELECT b.doc_id, coalesce(h.n_matches, 0) AS n_matches,
        |  h.first_match, h.n_matches IS NOT NULL AS is_dup
        |FROM batch b LEFT JOIN hits h USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) {
      (s, d) =>
        val bands = minhashBands(shingleHashes(s, d))
          .withColumn("bkt", md5Long(col("doc_id").cast("string")) % 100)
        // persist the corpus index ONCE per input (Sinks.buildOnceDir),
        // then probe the READ-BACK files — the declared result flows
        // through the stored index, not the in-memory frame, and repeat
        // executions skip the write entirely (build-once semantics)
        val idxDir = Sinks.buildOnceDir("graft-minhash-index", d)(p =>
          bands.filter(col("bkt") < 90)
            .select(col("doc_id").as("corpus_id"), col("band"), col("sig"))
            .write.mode("overwrite").parquet(p))
        val idx = parquet(s, idxDir)
        val bt = bands.filter(col("bkt") >= 90)
          .select(col("doc_id"), col("band"), col("sig"))
        val hits = bt.join(idx, Seq("band", "sig"))
          .groupBy("doc_id")
          .agg(count_distinct(col("corpus_id")).as("n_matches"),
            min("corpus_id").as("first_match"))
        bt.select("doc_id").distinct()
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            col("first_match"),
            col("n_matches").isNotNull.as("is_dup"))
          .orderBy("doc_id")
    },

    // ── SimHash: 60-bit signature from weighted token-hash bit votes ────
    Q("q_dedup_simhash",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
        |votes AS (SELECT doc_id, b,
        |    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
        |bits AS (SELECT doc_id,
        |    SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash
        |FROM bits ORDER BY doc_id""".stripMargin) {
      (s, d) => simhashes(s, d).orderBy("doc_id")
    },

    // ── SimHash near-dup pairs: hamming distance via xor + bit_count ────
    Q("q_simhash_pairs",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
        |votes AS (SELECT doc_id, b,
        |    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
        |bits AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, d) =>
        // ledger M33: q_simhash_pairs 1.3× slower without it
        val sig = simhashes(s, d).cache() // self-joined: compute once
        // Pigeonhole-blocked equi-join instead of the O(n²) nested-loop
        // all-pairs compare — see graft.ops.HammingJoin. Radius 3 is the
        // published SimHash near-dup operating point (Manku et al.,
        // WWW'07, 64-bit signatures); it also keeps the OUTPUT linear-ish:
        // on this vocab-saturated corpus radius 8 captures ambient topic
        // similarity, not near-duplication — 0.67% of ALL pairs at every
        // SF (83,686 rows at sf0.1), an intrinsically quadratic result set
        // no candidate generator can beat. The combo width k scales with
        // the corpus (2^keyBits >= N — the adaptive-signature discipline).
        val k = graft.ops.HammingJoin.adaptiveRequiredMatches(
          docCount(s, d), bits = 60, maxDist = 3)
        graft.ops.HammingJoin.pairsWithin(sig, "doc_id", "simhash", 60, 3,
            requiredMatches = k)
          .orderBy("doc_a", "doc_b")
    },

    // ── MinHash banding quality as a declared, hash-checked number —
    //    closing the dedup family the way q_ann_recall closes ANN: the
    //    banding candidates (4 bands × 4 rows) measured against the exact
    //    ground truth "3-gram Jaccard ≥ 0.5" over the SAME shingle sets the
    //    signatures are built from. Recall says how much of the true
    //    near-dup graph the bands caught; precision says how much of the
    //    candidate volume was real. Counts are exact integers, each ratio
    //    is one integer division — nothing order-dependent reaches the
    //    hash. Scale: candidates stay band-bounded, and the measurement is
    //    bounded to the CONSTANT-size probe prefix (smaller pair id <
    //    ProbeDocs): the exact-truth side is the shared-shingle
    //    inverted-index join with its left side restricted to the probe
    //    docs' shingles — O(probe × sharing), linear in the corpus at any
    //    SF. Every J ≥ 0.5 probe pair shares a shingle, so no truth pair is
    //    missed. Both engines compute the truth over the SAME md5-hashed
    //    shingle rows the signatures aggregate (one scan+shingle+hash pass
    //    feeds candidates AND truth; the inverted index joins on BIGINTs,
    //    and a hash collision — ~2⁻⁶⁰ — would strike both engines
    //    identically). ─────────────────────────────────────────────────────
    Q("q_minhash_recall",
      s"""WITH $MinhashPairsCte,
        |e3 AS (SELECT DISTINCT doc_id, hv AS g FROM h),
        |sz AS (SELECT doc_id, count(*) AS n FROM e3 GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |       FROM e3 a JOIN e3 b ON a.g = b.g AND a.doc_id < b.doc_id
        |       WHERE $probeSqlA
        |       GROUP BY a.doc_id, b.doc_id),
        |truth AS (SELECT doc_a, doc_b FROM pr
        |          JOIN sz sa ON sa.doc_id = doc_a
        |          JOIN sz sb ON sb.doc_id = doc_b
        |          WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5),
        |tn AS (SELECT count(*) AS n_truth FROM truth),
        |cn AS (SELECT count(*) AS n_cand FROM pairs WHERE doc_a < $ProbeDocs),
        |hn AS (SELECT count(*) AS n_hits
        |       FROM pairs JOIN truth USING (doc_a, doc_b))
        |SELECT 'minhash_b4r4' AS method, n_cand, n_truth, n_hits,
        |  n_hits::DOUBLE / n_truth AS recall,
        |  n_hits::DOUBLE / n_cand AS prec
        |FROM cn CROSS JOIN tn CROSS JOIN hn""".stripMargin) {
      (s, d) =>
        // ONE scan+shingle+hash pass feeds both sides (q_ann_recall's
        // staging discipline). EAGER checkpoints (round 17, continued; were
        // lazy .cache()s): the three count aggregates below launch as
        // CONCURRENT AQE stages through the final crossJoins, and each pair
        // of consumers raced to materialize the not-yet-built caches —
        // JobsX showed three overlapping 32-task jobs at 24–33 s task time
        // (1–4 s CPU, 6 s GC: contention, not work). Eager runs each
        // shared chain exactly once, up front — the 8f06efc kernel fix
        // applied to this query's own staging frames.
        // ledger M34: q_minhash_recall 2× slower without its four checkpoints
        val sh = shingleHashes(s, d).localCheckpoint()
        val cand = minhashPairsFrom(sh)
          .filter(col("doc_a") < ProbeDocs) // probe-bounded measurement
          // ledger M35: q_minhash_recall 2× slower without its four checkpoints
          .localCheckpoint() // counted AND hit-joined
        val e3 = sh.distinct()
          .select(col("doc_id"), col("hv").as("g"))
          // ledger M36: q_minhash_recall 2× slower without its four checkpoints
          .localCheckpoint() // read 3×: sizes + both inverted-index sides
        val truth = graft.ops.SetSimilarity
          .naiveJaccardPairs(e3, "doc_id", "g", 0.5,
            aPred = col("doc_id") < ProbeDocs, broadcastProbe = true)
          .select("doc_a", "doc_b")
          // ledger M37: q_minhash_recall 2× slower without its four checkpoints
          .localCheckpoint() // counted AND hit-joined below
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nC = cand.agg(count(lit(1)).as("n_cand"))
        val nH = cand.join(truth, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hits"))
        nC.crossJoin(nT).crossJoin(nH)
          .select(lit("minhash_b4r4").as("method"),
            col("n_cand"), col("n_truth"), col("n_hits"),
            // empty truth/candidate set -> NULL on both engines (DuckDB's
            // x/0 is NULL; Spark under ANSI would throw without the guard)
            when(col("n_truth") > 0,
              col("n_hits").cast("double") / col("n_truth")).as("recall"),
            when(col("n_cand") > 0,
              col("n_hits").cast("double") / col("n_cand")).as("prec"))
    },

    // ── SimHash quality as a declared, hash-checked number — the last
    //    family closure (ANN, int8, MinHash already have theirs): the
    //    hamming-≤8 candidate pairs measured against exact BAG (multiset)
    //    Jaccard ≥ 0.6 over token counts. Bag Jaccard, not set Jaccard: the
    //    corpus vocabulary is tiny (31 words), so token SETS saturate (74%
    //    of pairs share half their vocabulary) while the COUNT profile —
    //    which is what SimHash's weighted bit votes encode — discriminates
    //    (0.6% of pairs at ≥ 0.6). Truth is computed on dense count vectors
    //    over the global dictionary (driver-bounded like SetSimilarity's
    //    vocabCap) and thresholded as exact integers (smin·8 ≥ 3·total ⟺
    //    J ≥ 0.6), so no float reaches a decision. The measurement is
    //    probe-bounded (smaller pair id < ProbeDocs): the truth kernel
    //    broadcasts the CONSTANT-size probe vectors against the streamed
    //    corpus — O(probe × N), linear, never the all-pairs frontier. ──────
    Q("q_simhash_recall",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
        |votes AS (SELECT doc_id, b,
        |    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
        |bits AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        |    AND $probeSqlA),
        |tokc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         sum(least(a.c, b.c)) AS smin
        |       FROM tokc a JOIN tokc b ON b.t = a.t AND a.doc_id < b.doc_id
        |       WHERE $probeSqlA
        |       GROUP BY a.doc_id, b.doc_id),
        |sz AS (SELECT doc_id, sum(c) AS n FROM tokc GROUP BY doc_id),
        |truth AS (SELECT doc_a, doc_b FROM pr
        |          JOIN sz sa ON sa.doc_id = doc_a
        |          JOIN sz sb ON sb.doc_id = doc_b
        |          WHERE smin * 8 >= (sa.n + sb.n) * 3),
        |tn AS (SELECT count(*) AS n_truth FROM truth),
        |cn AS (SELECT count(*) AS n_cand FROM cand),
        |hn AS (SELECT count(*) AS n_hits
        |       FROM cand JOIN truth USING (doc_a, doc_b))
        |SELECT 'simhash_h8' AS method, n_cand, n_truth, n_hits,
        |  n_hits::DOUBLE / n_truth AS recall,
        |  n_hits::DOUBLE / n_cand AS prec
        |FROM cn CROSS JOIN tn CROSS JOIN hn""".stripMargin) {
      (s, d) =>
        // ONE token scan feeds signatures AND the bag-count truth. EAGER
        // checkpoints below (round 17, continued; were lazy .cache()s):
        // the three count aggregates launch as CONCURRENT AQE stages
        // through the final crossJoins and raced to materialize the
        // not-yet-built shared caches — the 8f06efc kernel fix applied to
        // this query's own staging frames (same conversion as
        // q_minhash_recall).
        val tok = spread(documents(s, d))
          // ledger M38: q_simhash_recall 1.9× slower without its four checkpoints
          .select(col("doc_id"), explode(toks).as("t")).localCheckpoint()
        // k = 1 deliberately at this radius: widening the combo key to
        // k = 3 means C(11,3) = 165 combos — the ×165 explode and the
        // 165-branch first-match dedup cost 5× more than the smaller
        // buckets save (measured 25.8 s vs 5.6 s at sf3). The adaptive-k
        // dial pays at small radii (q_simhash_pairs, maxDist 3); at
        // radius 8 the 9-block single-key join is the right trade.
        // probe-bounded measurement, bounded BEFORE the bucket join: the
        // aPred restricts the smaller-id side to the probe prefix, so the
        // candidate stage joins probe×corpus bucket rows instead of
        // generating the full corpus×corpus candidate set and discarding
        // 97% of it (round 11 — the query's largest avoidable cost)
        // ledger M39: q_simhash_recall 1.9× slower without its four checkpoints
        val cand = graft.ops.HammingJoin
          .pairsWithin(simhashesFromTok(tok).localCheckpoint(), "doc_id",
            "simhash", 60, 8, aPred = col("doc_a") < ProbeDocs)
          .select("doc_a", "doc_b")
          // ledger M40: q_simhash_recall 1.9× slower without its four checkpoints
          .localCheckpoint() // counted AND hit-joined
        // partitioned by doc_id BEFORE the (doc_id, t) groupBy (round 17):
        // hash(doc_id) already satisfies the (doc_id, t) clustering, so
        // the groupBy costs the same one shuffle — but the cached postings
        // come out DOC-CO-LOCATED, which (a) lets the sizes aggregate
        // below reuse the partitioning shuffle-free, and (b) makes the
        // pair aggregate's map-side partial agg actually compress: with
        // the old (doc_id, t)-hash layout every task saw random tokens,
        // no (doc_a, doc_b) group repeated within a task, and the partial
        // agg shipped the RAW probe×posting join output — measured 122 MB
        // shuffled (JobsX job 79) for a ~1 M-pair result (guide §2.3
        // "aggregate before you shuffle")
        val tokc = tok
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("doc_id"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
          // ledger M41: q_simhash_recall slower without the forced cache
          .cache() // probe postings + candidate postings + sizes read it
        // eager via count(), NOT a localCheckpoint: a checkpoint loses the
        // hash(doc_id) outputPartitioning under AQE (the q_pagerank edge
        // lesson) and the sizes aggregate would re-shuffle; the built
        // InMemoryRelation keeps the layout AND is already materialized
        // when the concurrent consumers arrive
        // ledger M42: q_simhash_recall slower without the forced cache
        tokc.count()
        // Sparse inverted-index truth kernel: the weighted intersection
        // Σ min(ca, cb) comes from an EQUI-JOIN on the token — a probe
        // token only ever reaches the documents that contain it, so the
        // join volume is Σ_t (probe docs with t) × (docs with t), bounded
        // by the probe side (ProbeDocs = 200, constant) times the posting
        // lists it touches. (Round 7 used dense bag-count vectors over a
        // GLOBAL driver-collected dictionary — a V-term sum per pair.
        // That was fine while the synthetic corpus froze V at 31 words,
        // but a Heaps-law vocabulary grows V with N, making the truth
        // O(probe·N·V) — measured 117 s / exponent 1.85 at sf3 before
        // this rewrite, 2.6 s after.) A pair sharing zero tokens yields
        // no row — it cannot pass the ≥ 3/8 overlap threshold either way.
        val a = tokc.filter(col("doc_id") < ProbeDocs)
          .select(col("doc_id").as("doc_a"), col("t"), col("c").as("ca"))
        val b = tokc.select(col("doc_id").as("doc_b"), col("t"),
          col("c").as("cb"))
        val pr = broadcast(a).join(b, Seq("t"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(least(col("ca"), col("cb"))).as("smin"))
        val sz = tokc.groupBy("doc_id").agg(sum("c").as("n"))
        val truth = pr
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
          .filter(col("smin") * 8 >= (col("na") + col("nb")) * 3)
          .select("doc_a", "doc_b")
          // ledger M43: q_simhash_recall 1.9× slower without its four checkpoints
          .localCheckpoint() // counted AND hit-joined
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nC = cand.agg(count(lit(1)).as("n_cand"))
        val nH = cand.join(truth, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hits"))
        nC.crossJoin(nT).crossJoin(nH)
          .select(lit("simhash_h8").as("method"),
            col("n_cand"), col("n_truth"), col("n_hits"),
            // same empty-set guard as q_minhash_recall
            when(col("n_truth") > 0,
              col("n_hits").cast("double") / col("n_truth")).as("recall"),
            when(col("n_cand") > 0,
              col("n_hits").cast("double") / col("n_cand")).as("prec"))
    },

    // ── n-gram Jaccard near-dups: MinHash-banded candidates over the
    //    2-gram shingle hashes, verified by EXACT Jaccard — the
    //    corpus-scale composition (see SetSimilarity.bandedJaccardPairs
    //    for why a document-frequency cap cannot bound this data: the
    //    2-gram vocabulary saturates at ~930 at every SF, so ALL shingles
    //    are frequent and the r7 bitset all-pairs stage stayed O(N²),
    //    measured 12.2× on 10× data). bands×rows ADAPT to the corpus size
    //    (SetSimilarity.adaptiveBanding — rows grows one per decade past
    //    10⁴ docs, bands re-sized to hold recall at the 6×3 design point):
    //    at fixed 6×3 the random-collision floor E[J^rows]·N²·bands is
    //    quadratic, the largest ×30 cost in round 10's scalecheck. The
    //    oracle computes the identical integer ladder in its `prm` CTE, so
    //    both engines pick the same geometry at every corpus size; at the
    //    verify SFs (≤ 10⁴ docs) the ladder lands exactly on 6×3 — hashes
    //    unchanged. Emitted similarities are exact; recall is the banding
    //    catch rate, ≥ 0.992 at the testdata's true-pair band (J ≥ 0.82)
    //    — measured lossless at sf0.001/0.01/0.1 (28/28, 25/25, 256/256
    //    vs the exact all-pairs kernel). ───────────────────────────────────
    Q("q_dedup_ngram_jaccard",
      s"""WITH $NgramBandedCte
        |SELECT doc_a, doc_b, jacc FROM jp
        |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, d) =>
        val e = spread(documents(s, d))
          .select(col("doc_id"),
            explode(array_distinct(wordShingles(toks, 2))).as("g"))
        val (bands, rows) =
          graft.ops.SetSimilarity.adaptiveBanding(docCount(s, d))
        graft.ops.SetSimilarity.bandedJaccardPairs(e, "doc_id", "g", 0.28,
            bands, rows)
          .orderBy("doc_a", "doc_b")
    },

    // ── adaptive-banding quality as a declared, hash-checked number
    //    (round 11, closing ask #5 the way every approximate family
    //    closes): of the EXACT 2-gram Jaccard ≥ 0.28 pairs whose smaller
    //    id is in the constant probe prefix, how many does the
    //    adaptive-banded kernel emit? Emitted pairs are exactly verified
    //    at the same threshold, so found ⊆ truth by construction and
    //    recall = found ∕ truth — this row keeps the recall-preserving
    //    claim of the bands×rows ladder honest at EVERY corpus size, not
    //    just the 6×3 design point the ≥ 0.992 guarantee was derived at.
    //    Scale: truth is the inverted-index join with its left side
    //    probe-bounded (O(probe × sharing), linear); found/candidates stay
    //    band-bounded. ─────────────────────────────────────────────────────
    Q("q_dedup_ngram_recall",
      s"""WITH $NgramBandedCte,
        |pr2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS shared
        |       FROM h a JOIN h b ON b.hv = a.hv AND a.doc_id < b.doc_id
        |       WHERE $probeSqlA
        |       GROUP BY 1, 2),
        |tr AS (SELECT doc_a, doc_b FROM pr2
        |       JOIN sz sa ON sa.doc_id = doc_a
        |       JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.28),
        |ap AS (SELECT doc_a, doc_b FROM jp WHERE doc_a < $ProbeDocs)
        |SELECT 'ngram_adaptive' AS method,
        |  (SELECT count(*) FROM tr) AS n_truth,
        |  (SELECT count(*) FROM ap) AS n_found,
        |  CASE WHEN (SELECT count(*) FROM tr) > 0 THEN
        |    ${graft.ops.Exprs.roundDivSql("(SELECT count(*) FROM ap)",
             "(SELECT count(*) FROM tr)", 6)} END AS recall""".stripMargin) {
      (s, d) =>
        val (bands, rows) =
          graft.ops.SetSimilarity.adaptiveBanding(docCount(s, d))
        // ONE scan+shingle+md5 pass feeds the banded kernel AND the truth
        // kernel (round 17, continued): both consume the identical md5Long
        // posting frame — previously the kernel hashed + cached its own
        // copy while the truth side checkpointed another, i.e. two
        // materializations of the same posting pass. EAGER checkpoint
        // (was .cache()): the consumers launch as CONCURRENT AQE stages —
        // lazily cached, two of them still materialized the md5 pass at
        // once (JobsX: ~15 s-taskTime twin jobs). Eager runs it once.
        val h = spread(documents(s, d))
          .select(col("doc_id"),
            explode(array_distinct(wordShingles(toks, 2))).as("g"))
          .select(col("doc_id"), md5Long(col("g")).as("g"))
          // ledger M44: q_dedup_ngram_recall 1.9× slower without it
          .localCheckpoint()
        val found = graft.ops.SetSimilarity
          .bandedJaccardPairs(h, "doc_id", "g", 0.28, bands, rows,
            elemsHashed = true)
          .filter(col("doc_a") < ProbeDocs)
          .agg(count(lit(1)).as("n_found"))
        val truth = graft.ops.SetSimilarity
          .naiveJaccardPairs(h, "doc_id", "g", 0.28,
            aPred = col("doc_id") < ProbeDocs, broadcastProbe = true)
          .agg(count(lit(1)).as("n_truth"))
        truth.crossJoin(broadcast(found))
          .select(lit("ngram_adaptive").as("method"),
            col("n_truth"), col("n_found"),
            when(col("n_truth") > 0,
              graft.ops.Exprs.roundDiv(col("n_found"), col("n_truth"), 6))
              .as("recall"))
    },

    // ── asymmetric containment dedup (round 12): pairs where the smaller
    //    shingle set is (nearly) a subset of the larger —
    //    shared/min(na,nb) ≥ 0.9 — with the contained doc surfaced. The
    //    doc-in-doc class symmetric Jaccard under-scores: J shrinks as the
    //    CONTAINING document grows even at perfect containment, so a quote
    //    wrapped in boilerplate never crosses a Jaccard threshold. Same
    //    adaptive banded candidate kernel as q_dedup_ngram_jaccard (never
    //    all-pairs); recall contract documented on bandedContainmentPairs:
    //    candidate coverage is guaranteed for size ratio ≤ 3 at τ = 0.9
    //    (all 25 true pairs here are within it — the oracle's exact counts
    //    confirm banded = exact at every verify SF); wider ratios belong
    //    to q_dedup_substring, which catches them at span granularity. ───
    Q("q_dedup_containment",
      s"""WITH $NgramBandedCte,
        |cp AS (SELECT doc_a, doc_b,
        |    CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained,
        |    CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS cont
        |  FROM pr JOIN sz sa ON sa.doc_id = doc_a
        |          JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE CAST(shared AS DOUBLE) / least(sa.n, sb.n) >= 0.9)
        |SELECT doc_a, doc_b, contained, cont FROM cp
        |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, d) =>
        val e = spread(documents(s, d))
          .select(col("doc_id"),
            explode(array_distinct(wordShingles(toks, 2))).as("g"))
        val (bands, rows) =
          graft.ops.SetSimilarity.adaptiveBanding(docCount(s, d))
        graft.ops.SetSimilarity.bandedContainmentPairs(e, "doc_id", "g",
            0.9, bands, rows)
          .orderBy("doc_a", "doc_b")
    },

    // ── hard-negative mining for contrastive training (round 11): per
    //    anchor document, the top-2 HIGH-lexical-overlap documents from a
    //    DIFFERENT source — the pairs an embedding model must learn to
    //    separate (near-identical text, different provenance), mined from
    //    the SAME adaptive MinHash-banded candidate kernel as
    //    q_dedup_ngram_jaccard (exact Jaccard ≥ 0.28 on 2-gram shingles;
    //    the banding bounds candidates, never all-pairs). Both directions
    //    of each pair anchor (a's negative is b AND b's negative is a);
    //    source lookup joins the SMALL symmetric pair frame against
    //    `documents` on doc_id (pair volume is band-bounded, the corpus
    //    side shuffles once on its key); the per-anchor top-2 window runs
    //    on the filtered pair frame only. Ties break (jacc DESC, neg_id
    //    ASC) — engine-exact since the Jaccard values are exact. ───────────
    Q("q_hard_negatives",
      s"""WITH $NgramBandedCte,
        |sym AS (SELECT doc_a AS d, doc_b AS n, jacc FROM jp
        |        UNION ALL SELECT doc_b, doc_a, jacc FROM jp),
        |lab AS (SELECT sym.d, sym.n, sym.jacc,
        |          da.source AS src_a, db.source AS src_n
        |        FROM sym JOIN documents da ON da.doc_id = sym.d
        |                 JOIN documents db ON db.doc_id = sym.n
        |        WHERE da.source <> db.source),
        |r AS (SELECT d, n, jacc, src_a, src_n,
        |        row_number() OVER (PARTITION BY d
        |          ORDER BY jacc DESC, n ASC) AS rnk
        |      FROM lab)
        |SELECT d AS doc_id, rnk::BIGINT AS rnk, n AS neg_id, jacc,
        |  src_a, src_n
        |FROM r WHERE rnk <= 2 ORDER BY doc_id, rnk""".stripMargin) {
      (s, d) =>
        val e = spread(documents(s, d))
          .select(col("doc_id"),
            explode(array_distinct(wordShingles(toks, 2))).as("g"))
        val (bands, rows) =
          graft.ops.SetSimilarity.adaptiveBanding(docCount(s, d))
        // Eager checkpoint: jp feeds BOTH directions of the sym union —
        // uncached the entire banded candidate kernel executed twice
        // (round 16); round 17 upgrades the lazy cache to an eager
        // checkpoint so concurrent consumers cannot double-materialize
        // it. Pair volume is band-bounded, so the frame is small.
        val jp = graft.ops.SetSimilarity
          .bandedJaccardPairs(e, "doc_id", "g", 0.28, bands, rows)
          // ledger M45: q_hard_negatives 6× slower without it
          .localCheckpoint()
        val sym = jp.select(col("doc_a").as("d"), col("doc_b").as("n"),
            col("jacc"))
          .union(jp.select(col("doc_b").as("d"), col("doc_a").as("n"),
            col("jacc")))
        val src = documents(s, d).select(col("doc_id"), col("source"))
        val lab = sym
          .join(src.select(col("doc_id").as("d"), col("source").as("src_a")),
            Seq("d"))
          .join(src.select(col("doc_id").as("n"), col("source").as("src_n")),
            Seq("n"))
          .filter(col("src_a") =!= col("src_n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("d").orderBy(col("jacc").desc, col("n").asc)
        lab.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 2)
          .select(col("d").as("doc_id"), col("rnk"), col("n").as("neg_id"),
            col("jacc"), col("src_a"), col("src_n"))
          .orderBy("doc_id", "rnk")
    },

    // ── cross-document substring dedup: every 20-token rolling window is
    //    fingerprinted (md5Long of the re-joined span) and a span that
    //    appears in ≥ 2 DISTINCT documents is reported with its occurrence
    //    counts and first (doc, pos) site — the copy-paste/boilerplate
    //    signal substring-level training-data dedup acts on (exact
    //    repeated spans across documents, which document-level near-dup
    //    measures dilute away). The window is a dial: production corpora
    //    use ~50 tokens; 20 fits this testdata's 10–99-token documents.
    //    Scale: the explode is one row per token position (linear in
    //    corpus tokens), the groupBy is a hash shuffle on the 60-bit
    //    fingerprint with partial aggregation, and only duplicated spans
    //    survive the HAVING — the suffix-array construction the exact
    //    method needs is replaced by a fixed-width shingle hash, which IS
    //    exact for spans of the declared width. ──────────────────────────
    Q("q_dedup_substring",
      s"""WITH $WindowFpCte
        |SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS n_occ,
        |  min({'d': doc_id, 'p': pos}).d AS first_doc,
        |  min({'d': doc_id, 'p': pos}).p AS first_pos
        |FROM f GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY first_doc, first_pos, fp""".stripMargin) {
      (s, d) =>
        windowFps(s, d)
          .groupBy("fp")
          .agg(count_distinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            // lexicographic (doc, pos) arg-min: first_pos is the position
            // AT the first document, not an independent min over all
            // occurrences (ADVICE r10 — the two mins could come from
            // different documents)
            min(struct(col("doc_id"), col("pos"))).as("first"))
          .filter(col("n_docs") >= 2)
          .select(col("fp"), col("n_docs"), col("n_occ"),
            col("first.doc_id").as("first_doc"),
            col("first.pos").as("first_pos"))
          .orderBy("first_doc", "first_pos", "fp")
    },

    // ── maximal duplicated spans (round 11): the ACTIONABLE form of
    //    q_dedup_substring — duplicated 20-token windows in a document
    //    merge into maximal [span_start, span_end] intervals, which is
    //    exactly what substring-level training-data dedup strips (a
    //    60-token boilerplate block is one span to remove, not 41
    //    overlapping window hits). Islands are INTERVAL-UNION islands,
    //    not consecutive-position islands: a new span starts only when a
    //    window's [pos, pos+19] interval neither overlaps nor touches the
    //    running max end of its predecessors — two duplicated windows
    //    whose positions differ by 2..20 (the between window being
    //    unique) still share tokens and MUST merge, or the emitted spans
    //    would overlap and double-count (the naive pos−row_number() key
    //    gets exactly that wrong). All arithmetic is integer; spans are
    //    disjoint with ≥1 token gap BY CONSTRUCTION (pinned in
    //    SpansAucSpec). Scale: the duplicated-fp semi-join shuffles on
    //    the 60-bit fingerprint; both windows partition BY DOCUMENT —
    //    sharded per key, never a global sort; span merge is one
    //    partial-aggregating groupBy. ──────────────────────────────────────
    Q("q_dedup_spans",
      s"""WITH $WindowFpCte,
        |dup AS (SELECT fp FROM f GROUP BY fp
        |        HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT f.doc_id, f.pos FROM f JOIN dup USING (fp)),
        |g AS (SELECT doc_id, pos,
        |        max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS prev_end
        |      FROM dp),
        |i AS (SELECT doc_id, pos,
        |        CAST(SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |                      THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
        |          AS grp
        |      FROM g)
        |SELECT doc_id, min(pos) AS span_start,
        |  max(pos) + 19 AS span_end,
        |  count(*) AS n_windows,
        |  max(pos) - min(pos) + 20 AS span_tokens
        |FROM i GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin) {
      (s, d) =>
        val f = windowFps(s, d)
          // ledger M46: q_dedup_spans 1.9× slower without it
          .cache() // duplicated-fp build side + the probe side read it
        val dup = f.groupBy("fp")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("fp")
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val wPrev = w1.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val wRun = w1.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        f.join(dup, Seq("fp"), "left_semi")
          .withColumn("prev_end", max(col("pos") + 19).over(wPrev))
          .withColumn("grp",
            sum(when(col("prev_end").isNull ||
              col("pos") > col("prev_end") + 1, 1L).otherwise(0L))
              .over(wRun))
          .groupBy("doc_id", "grp")
          .agg(min(col("pos")).as("span_start"),
            max(col("pos")).as("span_end_pos"),
            count(lit(1)).as("n_windows"))
          .select(col("doc_id"), col("span_start"),
            (col("span_end_pos") + 19).as("span_end"), col("n_windows"),
            (col("span_end_pos") - col("span_start") + 20).as("span_tokens"))
          .orderBy("doc_id", "span_start")
    },

    // ── span strip (round 11): the APPLY step after span detection — the
    //    per-document token budget of keep-first substring dedup. A window
    //    occurrence is REDUNDANT when its fingerprint occurs at ≥ 2 sites
    //    anywhere in the corpus (count(*), not distinct docs: a block
    //    pasted twice in ONE document is just as strippable) and the site
    //    is not the corpus-first (lexicographic (doc, pos) arg-min — one
    //    surviving copy). removed = union length of the redundant
    //    [pos, pos+19] intervals, computed WITHOUT a second grouping
    //    level: running max(pos+19) over strictly-preceding rows per doc,
    //    each row contributes max(0, pos+19 − max(prev_end, pos−1)).
    //    All integer. Scale: the occurrence→first-site join shuffles on
    //    the 60-bit fingerprint; the interval-union window partitions BY
    //    DOCUMENT; the left join back to `documents` keeps zero-removal
    //    docs (the common case) without scanning text twice. ──────────────
    Q("q_span_strip",
      s"""WITH $WindowFpCte,
        |g AS (SELECT fp, min({'d': doc_id, 'p': pos}) AS first
        |      FROM f GROUP BY fp HAVING count(*) >= 2),
        |r AS (SELECT f.doc_id, f.pos
        |      FROM f JOIN g USING (fp)
        |      WHERE NOT (f.doc_id = g.first.d AND f.pos = g.first.p)),
        |c AS (SELECT doc_id, pos,
        |        max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS prev_end
        |      FROM r),
        |rm AS (SELECT doc_id,
        |        CAST(sum(greatest(0, pos + 19 -
        |          greatest(coalesce(prev_end, 0), pos - 1))) AS BIGINT)
        |          AS removed
        |      FROM c GROUP BY doc_id),
        |n AS (SELECT doc_id,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |SELECT n.doc_id, n.n_tokens,
        |  coalesce(rm.removed, 0) AS removed_tokens,
        |  n.n_tokens - coalesce(rm.removed, 0) AS kept_tokens
        |FROM n LEFT JOIN rm ON n.doc_id = rm.doc_id
        |ORDER BY n.doc_id""".stripMargin) {
      (s, d) =>
        val f = windowFps(s, d)
        val g = f.groupBy("fp")
          .agg(count(lit(1)).as("n_occ"),
            min(struct(col("doc_id"), col("pos"))).as("first"))
          .filter(col("n_occ") >= 2)
          .select(col("fp"), col("first.doc_id").as("fd"),
            col("first.pos").as("fpos"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val rm = f.join(g, "fp")
          .filter(!(col("doc_id") === col("fd") && col("pos") === col("fpos")))
          .select("doc_id", "pos")
          .withColumn("prev_end", max(col("pos") + 19).over(w))
          .groupBy("doc_id")
          .agg(sum(greatest(lit(0L), col("pos") + 19 -
            greatest(coalesce(col("prev_end"), lit(0L)), col("pos") - 1)))
            .as("removed"))
        documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(rm, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("removed"), lit(0L)).as("removed_tokens"),
            (col("n_tokens") - coalesce(col("removed"), lit(0L)))
              .as("kept_tokens"))
          .orderBy("doc_id")
    }
  )

  /** Shared SimHash signature computation (60 usable bits of md5Long).
    *
    * 60 per-bit vote sums as aggregate COLUMNS over the token rows — one
    * partial-aggregating groupBy, no tokens×60 row explosion. The signature
    * is then composed in a single projection.
    */
  private def simhashes(s: org.apache.spark.sql.SparkSession, d: String) =
    simhashesFromTok(
      spread(documents(s, d)).select(col("doc_id"), explode(toks).as("t")))

  /** SimHash signatures from pre-exploded (doc_id, t) token rows — split
    * out so q_simhash_recall can feed signatures AND bag-count truth from
    * ONE cached token scan.
    */
  private def simhashesFromTok(tok: org.apache.spark.sql.DataFrame) = {
    val h = tok.select(col("doc_id"), md5Long(col("t")).as("hv"))
    val voteAggs = (0 until 60).map(b =>
      sum(when(expr(s"(hv >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b"))
    val votes = h.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until 60)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    votes.select(col("doc_id"), sig.cast("long").as("simhash"))
  }
}
