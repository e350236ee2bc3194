package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables._
import graft.ops.Exprs._

/** Training-corpus curation operators beyond dedup: benchmark
  * decontamination and deterministic stratified sampling. Both follow the
  * engine's reproducibility rule (SURVEY §5.3): selection is a stable hash
  * of the id, never random(), so results are identical across engines,
  * runs, and cluster sizes.
  */
object Curation {

  val all: Seq[Q] = Seq(

    // ── benchmark decontamination: flag test-split documents whose word
    //    3-gram shingles overlap the train split. The standard pre-training
    //    hygiene pass: a test doc with ≥80% of its distinct shingles present
    //    anywhere in train is contaminated (leaked) and must be dropped
    //    from evaluation. Scale: shingle explode → per-doc distinct →
    //    semi-join on the shingle hash (shuffle bounded by distinct
    //    shingles, with partial aggregation before it) → slim count agg.
    //    The train side collapses to DISTINCT hashes only — membership is
    //    all the check needs (the exact-set analog of the bloom filter a
    //    100 TB deployment would swap in). Threshold compares integers
    //    (n_hit*5 >= n_sh*4), not a float ratio. ──────────────────────────
    Q("q_decontaminate",
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(ts) >= 3
        |         THEN list_transform(range(1, len(ts)-1),
        |                             i -> array_to_string(ts[i:i+2], ' '))
        |         ELSE [array_to_string(ts, ' ')] END AS shingles
        |  FROM tok),
        |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |hv AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS hv FROM e),
        |bk AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bkt
        |  FROM documents),
        |tr AS (SELECT DISTINCT hv FROM hv JOIN bk USING (doc_id) WHERE bkt < 80),
        |te AS (SELECT hv.doc_id, hv.hv FROM hv JOIN bk USING (doc_id) WHERE bkt >= 90),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM te GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) AS n_hit FROM te
        |        WHERE hv IN (SELECT hv FROM tr) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_sh, coalesce(h.n_hit, 0) AS n_hit,
        |  coalesce(h.n_hit, 0)::DOUBLE / t.n_sh AS ratio,
        |  coalesce(h.n_hit, 0) * 5 >= t.n_sh * 4 AS contaminated
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin) {
      (s, d) =>
        val docs = spread(documents(s, d))
          .select(col("doc_id"), split(col("text"), " ").as("ts"),
            (md5Long(col("doc_id").cast("string")) % 100).as("bkt"))
        // distinct per (doc, shingle-hash): overlap counts distinct shingles
        val sh = docs
          .select(col("doc_id"), col("bkt"),
            explode(wordShingles(col("ts"), 3)).as("s"))
          .select(col("doc_id"), col("bkt"), md5Long(col("s")).as("hv"))
          .distinct()
        val trainSh = sh.filter(col("bkt") < 80).select("hv").distinct()
        val testSh = sh.filter(col("bkt") >= 90).select("doc_id", "hv")
        val tot = testSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val hit = testSh.join(trainSh, Seq("hv"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        tot.join(hit, Seq("doc_id"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .select(col("doc_id"), col("n_sh"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_sh")).as("ratio"),
            (col("n_hit") * 5 >= col("n_sh") * 4).as("contaminated"))
          .orderBy("doc_id")
    },

    // ── cross-source overlap matrix (round 11): for every ordered source
    //    pair, what share of src_a's DISTINCT word-3-gram shingles also
    //    appears in src_b — q_decontaminate generalized from one
    //    train/test split to the full mixture. Containment (|A∩B|/|A|) is
    //    directional on purpose: a small source swallowed by a big one
    //    reads 1.0 in one direction and near-0 in the other, which is the
    //    signal that decides which source to drop. Zero-overlap pairs are
    //    kept (sz×sz frame, LEFT join) so the matrix is always complete.
    //    Scale: shingles collapse to DISTINCT (source, hash) rows first —
    //    the shared-gram join then fans out to at most C(|S|,2) pairs PER
    //    DISTINCT GRAM with |S| a mixture-design constant (the q_kl_sources
    //    argument); partial aggregation runs before the pair exchange; the
    //    |S|²-row completion frame is driver-scale. ───────────────────────
    Q("q_overlap_matrix",
      s"""WITH tok AS (SELECT source, string_split(text,' ') AS ts
        |  FROM documents),
        |sh AS (SELECT source,
        |    CASE WHEN len(ts) >= 3
        |         THEN list_transform(range(1, len(ts)-1),
        |                             i -> array_to_string(ts[i:i+2], ' '))
        |         ELSE [array_to_string(ts, ' ')] END AS shingles
        |  FROM tok),
        |g AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS hv
        |  FROM (SELECT source, unnest(shingles) AS s FROM sh)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        |       FROM g GROUP BY source),
        |pair AS (SELECT a.source AS src_a, b.source AS src_b,
        |           CAST(count(*) AS BIGINT) AS n_shared
        |         FROM g a JOIN g b ON a.hv = b.hv AND a.source <> b.source
        |         GROUP BY 1, 2),
        |m AS (SELECT sa.source AS src_a, sb.source AS src_b,
        |        sa.n_grams AS n_grams_a, coalesce(p.n_shared, 0) AS n_shared
        |      FROM sz sa JOIN sz sb ON sa.source <> sb.source
        |      LEFT JOIN pair p ON p.src_a = sa.source
        |                      AND p.src_b = sb.source)
        |SELECT src_a, src_b, n_grams_a, n_shared,
        |  ${graft.ops.Exprs.roundDivSql("n_shared", "n_grams_a", 6)}
        |    AS containment
        |FROM m ORDER BY src_a, src_b""".stripMargin) {
      (s, d) =>
        val g = spread(documents(s, d))
          .select(col("source"), split(col("text"), " ").as("ts"))
          .select(col("source"), explode(wordShingles(col("ts"), 3)).as("s"))
          .select(col("source"), md5Long(col("s")).as("hv"))
          .distinct()
        val sz = g.groupBy("source").agg(count(lit(1)).as("n_grams"))
        val pair = g.select(col("source").as("src_a"), col("hv"))
          .join(g.select(col("source").as("src_b"), col("hv")), "hv")
          .filter(col("src_a") =!= col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("n_shared"))
        broadcast(sz.select(col("source").as("src_a"),
            col("n_grams").as("n_grams_a")))
          .join(sz.select(col("source").as("src_b")),
            col("src_a") =!= col("src_b"))
          .join(pair, Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"), col("n_grams_a"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          .select(col("src_a"), col("src_b"), col("n_grams_a"),
            col("n_shared"),
            graft.ops.Exprs.roundDiv(col("n_shared"), col("n_grams_a"), 6)
              .as("containment"))
          .orderBy("src_a", "src_b")
    },

    // ── within-document repetition: share of word 3-grams that are
    //    duplicates — the boilerplate/spam signal every quality filter
    //    carries. Pure per-row HOF math (shingle → distinct → sizes), no
    //    shuffle at all; the ratio is a single division of two exact
    //    integers. ─────────────────────────────────────────────────────────
    Q("q_repetition",
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(ts) >= 3
        |         THEN list_transform(range(1, len(ts)-1),
        |                             i -> array_to_string(ts[i:i+2], ' '))
        |         ELSE [array_to_string(ts, ' ')] END AS shingles
        |  FROM tok)
        |SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh,
        |  CAST(len(list_distinct(shingles)) AS BIGINT) AS n_uniq,
        |  1.0 - CAST(len(list_distinct(shingles)) AS BIGINT)::DOUBLE
        |          / CAST(len(shingles) AS BIGINT) AS rep_ratio
        |FROM sh ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        spread(documents(s, d))
          .select(col("doc_id"),
            wordShingles(split(col("text"), " "), 3).as("shingles"))
          .select(col("doc_id"),
            size(col("shingles")).cast("long").as("n_sh"),
            size(array_distinct(col("shingles"))).cast("long").as("n_uniq"))
          .withColumn("rep_ratio",
            lit(1.0) - col("n_uniq").cast("double") / col("n_sh"))
          .orderBy("doc_id")
    },

    // ── sequence packing: concatenate each source shard's documents in
    //    corpus order and assign every document to the 2048-token window
    //    its first token lands in — the batch-prep pass that turns a
    //    document corpus into fixed-budget training sequences. The running
    //    sum is windowed PER SOURCE (matching how a 100 TB corpus packs
    //    within shards); a single global ORDER BY window would funnel the
    //    corpus through one task and is deliberately avoided. ──────────────
    Q("q_pack_sequences",
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("cum", sum("n_tok").over(w))
          // start offset of the doc // budget: `div` is Spark's exact
          // BIGINT integral divide, matching DuckDB's `//` at any
          // magnitude and window size — no float round-trip
          .select(col("doc_id"), col("source"), col("n_tok"),
            expr("(cum - n_tok) div 2048").as("bin"))
          .orderBy("doc_id")
    },

    // ── packing quality as a declared, hash-checked number — the
    //    measured-quality closure for q_pack_sequences (the q_ann_recall
    //    pattern). In the spanning model q_pack_sequences uses (a document
    //    belongs to the window its first token lands in, bodies flow across
    //    boundaries), bin CONSUMPTION is order-independent — always
    //    ceil(total/2048) — so the order-sensitive quality metric is the
    //    STRADDLE count: documents split across a window boundary, i.e. the
    //    fragmentation cost the trainer pays (a straddler is truncated or
    //    continued mid-document). Reported per source for corpus order vs
    //    length-descending order, with the bin consumption alongside.
    //    Every column is an exact BIGINT. Scale: two per-source windows +
    //    one per-source agg — the same shuffle-by-source shape as
    //    q_pack_sequences, nothing global. ─────────────────────────────────
    Q("q_pack_bins",
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c1 AS (SELECT source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |c2 AS (SELECT source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |a1 AS (SELECT source, count(*) AS n_docs,
        |         CAST(SUM(n_tok) AS BIGINT) AS total_tok,
        |         CAST(SUM(CASE WHEN (cum - n_tok) // 2048 <> (cum - 1) // 2048
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS straddle_naive
        |       FROM c1 GROUP BY source),
        |a2 AS (SELECT source,
        |         CAST(SUM(CASE WHEN (cum - n_tok) // 2048 <> (cum - 1) // 2048
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS straddle_sorted
        |       FROM c2 GROUP BY source)
        |SELECT source, n_docs, total_tok,
        |  CAST((total_tok + 2047) // 2048 AS BIGINT) AS bins,
        |  straddle_naive, straddle_sorted
        |FROM a1 JOIN a2 USING (source) ORDER BY source""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val t = documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        // per-row straddle flag: first and last token land in different
        // 2048-token windows under the given packing order. `div` is
        // Spark's exact BIGINT integral divide — matches DuckDB's `//`
        // at any magnitude and window size, no float round-trip.
        def straddled(ordered: org.apache.spark.sql.Column*) = {
          val w = Window.partitionBy("source").orderBy(ordered: _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          t.withColumn("cum", sum("n_tok").over(w))
            .withColumn("st", when(expr("(cum - n_tok) div 2048") =!=
              expr("(cum - 1) div 2048"), 1L).otherwise(0L))
        }
        val a1 = straddled(col("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tok"),
            sum("st").as("straddle_naive"))
        val a2 = straddled(col("n_tok").desc, col("doc_id"))
          .groupBy("source")
          .agg(sum("st").as("straddle_sorted"))
        a1.join(a2, Seq("source"))
          .select(col("source"), col("n_docs"), col("total_tok"),
            expr("(total_tok + 2047) div 2048").as("bins"),
            col("straddle_naive"), col("straddle_sorted"))
          .orderBy("source")
    },

    // ── sliding-window chunking: split each document into 256-token
    //    chunks at stride 192 (64-token overlap) — the context-window
    //    prep pass for embedding/retrieval pipelines, where overlap
    //    preserves cross-boundary context. Chunk count is
    //    1 + ceil((n-256)/192) so the tail window always lands inside the
    //    document; chunk k covers tokens [k·192+1, min(k·192+256, n)].
    //    Each chunk is declared by its 60-bit content fingerprint (md5 of
    //    the re-joined token span — the q_fingerprint convention) rather
    //    than its text, keeping the output slim. Scale: one explode over
    //    a per-row sequence, zero shuffles — a pure map stage whose
    //    output is ~n_tok/192 rows per document, linear at any corpus
    //    size; the per-chunk arithmetic is exact BIGINT. ─────────────────
    Q("q_chunk_overlap",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (SELECT doc_id, ts, n,
        |    unnest(range(0, CASE WHEN n <= 256 THEN 1
        |                         ELSE (n - 256 + 191) // 192 + 1 END)) AS k
        |  FROM t),
        |c AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |    CAST(k * 192 + 1 AS BIGINT) AS start,
        |    ts[k*192+1 : least(k*192+256, n)] AS ck
        |  FROM x)
        |SELECT doc_id, chunk_id, start,
        |  CAST(len(ck) AS BIGINT) AS n_tok,
        |  ('0x' || substr(md5(array_to_string(ck, ' ')), 1, 15))::BIGINT
        |    AS fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) {
      (s, d) =>
        val t = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .withColumn("n", size(col("ts")).cast("long"))
        t.withColumn("k",
            explode(sequence(lit(0L), when(col("n") <= 256, 0L)
              .otherwise(expr("(n - 256 + 191) div 192")))))
          .select(col("doc_id"), col("k").as("chunk_id"),
            (col("k") * 192 + 1).as("start"),
            slice(col("ts"), (col("k") * 192 + 1).cast("int"),
              least(lit(256L), col("n") - col("k") * 192).cast("int"))
              .as("ck"))
          .select(col("doc_id"), col("chunk_id"), col("start"),
            size(col("ck")).cast("long").as("n_tok"),
            md5Long(array_join(col("ck"), " ")).as("fp"))
          .orderBy("doc_id", "chunk_id")
    },

    // ── content-defined chunking (round 11): split each document at
    //    TOKEN-HASH boundaries instead of fixed offsets — the word-level
    //    form of the gear/Rabin discipline dedup-aware storage uses
    //    (LBFS/FastCDC). A token CLOSES its chunk when
    //    md5("cdc:"||tok) % 16 == 0, so a boundary depends only on LOCAL
    //    content: inserting or deleting a run of tokens re-chunks only the
    //    spans it touches, while under q_chunk_overlap's fixed-width rule
    //    every chunk downstream of the edit shifts and its fingerprint
    //    churns (the content-locality property is pinned by a model test
    //    in ChunkKlSpec). Each chunk is declared by its 60-bit content
    //    fingerprint; the final join counts how many documents share each
    //    fingerprint — the cross-document duplicate-chunk census that is
    //    CDC's dedup payoff. The modulus is the expected-chunk-size dial
    //    (16 tokens here, sized to this corpus; production re-derives it
    //    from the target chunk bytes). Scale: one explode; ONE window
    //    partitioned BY DOCUMENT (sharded per key, never global); chunk
    //    assembly is a groupBy plus an equi-join back to the token
    //    arrays; the census is a wordcount-shaped groupBy on fp. All
    //    stages linear, all arithmetic integer. ───────────────────────────
    Q("q_chunk_cdc",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts
        |  FROM documents),
        |e AS (SELECT doc_id, ts,
        |        unnest(generate_series(1, len(ts))) AS pos
        |      FROM t),
        |b AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |        CASE WHEN ('0x' || substr(md5('cdc:' || ts[pos]), 1, 15))
        |                    ::BIGINT % 16 = 0
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT doc_id, pos,
        |        CAST(coalesce(SUM(brk) OVER (PARTITION BY doc_id
        |          ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS chunk_id
        |      FROM b),
        |c AS (SELECT doc_id, chunk_id, min(pos) AS start,
        |        max(pos) AS fin, count(*) AS n_tok
        |      FROM g GROUP BY doc_id, chunk_id),
        |f AS (SELECT c.doc_id, c.chunk_id, c.start, c.n_tok,
        |        ('0x' || substr(md5(array_to_string(t.ts[c.start:c.fin],
        |                                            ' ')), 1, 15))::BIGINT
        |          AS fp
        |      FROM c JOIN t ON c.doc_id = t.doc_id),
        |d AS (SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |      FROM f GROUP BY fp)
        |SELECT f.doc_id, f.chunk_id, f.start, f.n_tok, f.fp, d.n_docs
        |FROM f JOIN d USING (fp) ORDER BY doc_id, chunk_id""".stripMargin) {
      (s, d) =>
        val t = spread(documents(s, d))
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
        val wPrev = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val c = t
          .select(col("doc_id"), col("ts"),
            explode(sequence(lit(1), size(col("ts")))).as("pos"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            when(md5Long(concat(lit("cdc:"),
              element_at(col("ts"), col("pos")))) % 16 === 0, 1L)
              .otherwise(0L).as("brk"))
          .withColumn("chunk_id",
            coalesce(sum(col("brk")).over(wPrev), lit(0L)))
          .groupBy("doc_id", "chunk_id")
          .agg(min(col("pos")).as("start"), max(col("pos")).as("fin"),
            count(lit(1)).as("n_tok"))
        val f = c.join(t, "doc_id")
          .select(col("doc_id"), col("chunk_id"), col("start"),
            col("n_tok"),
            md5Long(array_join(slice(col("ts"), col("start").cast("int"),
              (col("fin") - col("start") + 1).cast("int")), " "))
              .as("fp"))
          // ledger M23: q_chunk_cdc 1.5× slower without it
          .cache() // census build side + the output probe both read it
        val dcnt = f.groupBy("fp")
          .agg(count_distinct(col("doc_id")).as("n_docs"))
        f.join(dcnt, "fp")
          .select(col("doc_id"), col("chunk_id"), col("start"),
            col("n_tok"), col("fp"), col("n_docs"))
          .orderBy("doc_id", "chunk_id")
    },

    // ── cross-corpus perplexity gate: train an add-one-smoothed bigram LM
    //    on the REFERENCE slice (source = 'src0') and score every
    //    out-of-domain document's average log-probability under it — the
    //    KenLM-style quality filter a pretraining pipeline runs against a
    //    trusted corpus, where q_bigram_lm is the in-domain scoring
    //    primitive. Unseen bigrams/contexts take the smoothed floor
    //    1/(0 + V) via LEFT joins + coalesce(0). The gate is a declared
    //    CONSTANT threshold (avg_logp ≥ −3.6 → keep = 1); both the score
    //    and the flag are in the output, so the result is informative at
    //    any corpus. Float discipline = q_bigram_lm's: each term rounds
    //    ln() to 6 decimals then accumulates in DECIMAL(18,6) —
    //    order-independent, engine-exact. Scale: LM counts are plain
    //    groupBys over the (smaller) reference slice; the score side is
    //    one pass over corpus bigrams with two equi-joins against the
    //    count tables and one single-row broadcast (V) — linear, no
    //    sampling needed because the fan-out is 1:1 per bigram
    //    occurrence. ─────────────────────────────────────────────────────
    Q("q_perplexity_filter",
      s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS ts
        |  FROM documents),
        |big AS (SELECT doc_id, source, unnest(list_transform(
        |          generate_series(1, len(ts)-1),
        |          i -> ts[i] || ' ' || ts[i+1])) AS bg
        |        FROM t WHERE len(ts) >= 2),
        |trn AS (SELECT bg FROM big WHERE source = 'src0'),
        |c2 AS (SELECT bg, count(*) AS c2 FROM trn GROUP BY bg),
        |c1 AS (SELECT string_split(bg,' ')[1] AS w, count(*) AS c1
        |       FROM trn GROUP BY 1),
        |uw AS (SELECT unnest(string_split(bg,' ')) AS w FROM trn),
        |v AS (SELECT count(DISTINCT w) AS v FROM uw),
        |scored AS (SELECT b.doc_id,
        |    CAST(round(ln((coalesce(c2.c2, 0) + 1) /
        |                  CAST(coalesce(c1.c1, 0) + greatest(v.v, 1) AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM big b LEFT JOIN c2 ON b.bg = c2.bg
        |  LEFT JOIN c1 ON string_split(b.bg,' ')[1] = c1.w CROSS JOIN v
        |  WHERE b.source <> 'src0')
        |SELECT doc_id, count(*) AS n_bigrams,
        |  ${graft.ops.Exprs.roundDivSql("SUM(lp)*1000000",
             "count(*)*1000000", 6)} AS avg_logp,
        |  CAST(CASE WHEN ${graft.ops.Exprs.roundDivSql("SUM(lp)*1000000",
             "count(*)*1000000", 6)}
        |              >= -3.6 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val t = documents(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("ts"))
        val big = t.filter(size(col("ts")) >= 2)
          .select(col("doc_id"), col("source"), explode(transform(
            sequence(lit(1), size(col("ts")) - 1),
            i => concat(element_at(col("ts"), i), lit(" "),
              element_at(col("ts"), i + 1)))).as("bg"))
        val trn = big.filter(col("source") === "src0").select("bg")
        val c2 = trn.groupBy("bg").agg(count(lit(1)).as("c2"))
        val c1 = trn.select(element_at(split(col("bg"), " "), 1).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val v = trn.select(explode(split(col("bg"), " ")).as("w"))
          .agg(count_distinct(col("w")).as("v"))
        // exact integer-arithmetic rounding of the DECIMAL-sum / count
        // quotient (SURVEY §5.3 residual)
        val avg = graft.ops.Exprs.roundDiv(sum(col("lp")) * lit(1000000L),
          count(lit(1)) * lit(1000000L), 6)
        big.filter(col("source") =!= "src0")
          .join(c2, Seq("bg"), "left")
          .join(c1, element_at(split(col("bg"), " "), 1) === col("w"), "left")
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            // greatest(V, 1): an empty reference slice (V = 0, c1 null)
            // otherwise divides by zero — DuckDB errors while Spark's
            // double division yields Infinity (ADVICE r10)
            round(log((coalesce(col("c2"), lit(0L)) + 1) /
              (coalesce(col("c1"), lit(0L)) + greatest(col("v"), lit(1L)))
                .cast("double")), 6)
              .cast("decimal(18,6)").as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), avg.as("avg_logp"),
            when(avg >= -3.6, 1L).otherwise(0L).as("keep"))
          .orderBy("doc_id")
    },

    // ── length-outlier gate: drop documents above the corpus-wide exact
    //    p95 token count — the global-statistic curation pattern (compute
    //    one corpus statistic, broadcast it back as a filter threshold).
    //    Scale: the percentile is ONE single-pass aggregation collapsing to
    //    a single row; joining it back is a broadcast of one row, never a
    //    shuffle of the corpus. (percentile() here is the exact aggregate,
    //    proven DuckDB-identical by q_percentile — not approx_percentile,
    //    which SURVEY §5.3 bans from declared queries.) ─────────────────────
    Q("q_length_outliers",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (SELECT quantile_cont(n_tok, 0.95) AS p95 FROM t)
        |SELECT doc_id, n_tok, p95 FROM t CROSS JOIN p
        |WHERE n_tok > p95 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val t = documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val p = t.agg(expr("percentile(n_tok, 0.95)").as("p95"))
        t.crossJoin(p) // single-row side → auto-broadcast
          .filter(col("n_tok") > col("p95"))
          .orderBy("doc_id")
    },

    // ── the curation chain END TO END, as ONE oracle-hashed plan — what a
    //    pre-training data-prep job actually runs, stage order included:
    //    language gate (marker-argmax 'en') → quality gate (the
    //    q_text_quality score > 0.5) → repetition gate (distinct-shingle
    //    ratio, integer compare) → exact-dedup canonical survivor (min id
    //    per normalization key, computed on the GATED corpus) → train-split
    //    gate (hash bucket < 80) → per-source sequence packing over the
    //    survivors. The per-stage operators are each oracle-proven in
    //    isolation (q_lang_id / q_text_quality / q_repetition /
    //    q_dedup_exact / q_split / q_pack_sequences); this query proves the
    //    unbroken compose, exactly as q_flagship_analog does for the
    //    reference chain. Scale: gates + dedup key are a narrow map over the
    //    scan, the dedup window and the packing window are the only two
    //    shuffles, and both partition by unbounded-cardinality keys (k,
    //    source) — nothing funnels through one task. ───────────────────────
    Q("q_curation_pipeline",
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS ts
        |           FROM documents),
        |s AS (SELECT doc_id, source, ts,
        |    len(list_filter(ts, w -> w IN ('the','a','of')))::BIGINT AS s1,
        |    len(list_filter(ts, w -> w IN ('table','row','query')))::BIGINT AS s2,
        |    len(list_filter(ts, w -> w IN ('join','filter','sort')))::BIGINT AS s3,
        |    CAST(len(ts) AS BIGINT) AS n_tok
        |  FROM t),
        |g AS (SELECT doc_id, source, ts, n_tok,
        |    least(1.0, CAST(n_tok AS DOUBLE) / 100.0) *
        |      (1.0 - CAST(s1 AS DOUBLE) / n_tok) AS quality
        |  FROM s
        |  WHERE s1 >= s2 AND s1 >= s3
        |    AND least(1.0, CAST(n_tok AS DOUBLE) / 100.0) *
        |      (1.0 - CAST(s1 AS DOUBLE) / n_tok) > 0.5),
        |r AS (SELECT doc_id, source, ts, n_tok, quality,
        |    CASE WHEN len(ts) >= 3
        |         THEN list_transform(range(1, len(ts)-1),
        |                             i -> array_to_string(ts[i:i+2], ' '))
        |         ELSE [array_to_string(ts, ' ')] END AS shingles
        |  FROM g),
        |r2 AS (SELECT doc_id, source, ts, n_tok, quality FROM r
        |       WHERE len(list_distinct(shingles)) * 5 > len(shingles) * 4),
        |dd AS (SELECT doc_id, source, n_tok, quality,
        |         md5(array_to_string(ts[1:2], ' ')) AS k
        |       FROM r2
        |       QUALIFY doc_id = min(doc_id) OVER (PARTITION BY k)),
        |tr AS (SELECT doc_id, source, n_tok, quality FROM dd
        |       WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |             % 100 < 80),
        |p AS (SELECT doc_id, source, n_tok, quality,
        |        SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM tr)
        |SELECT doc_id, source, n_tok, quality,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS bin
        |FROM p ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        def markers(ts: org.apache.spark.sql.Column, ws: Seq[String]) =
          size(filter(ts, t => t.isin(ws.map(x => x: Any): _*))).cast("long")
        val ts = col("ts")
        val base = documents(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("ts"))
          .withColumn("s1", markers(ts, Seq("the", "a", "of")))
          .withColumn("s2", markers(ts, Seq("table", "row", "query")))
          .withColumn("s3", markers(ts, Seq("join", "filter", "sort")))
          .withColumn("n_tok", size(ts).cast("long"))
        val quality = least(lit(1.0), col("n_tok").cast("double") / 100.0) *
          (lit(1.0) - col("s1").cast("double") / col("n_tok"))
        val gated = base
          .filter(col("s1") >= col("s2") && col("s1") >= col("s3"))
          .withColumn("quality", quality)
          .filter(col("quality") > 0.5)
        val shingles = wordShingles(ts, 3)
        val lowRep = gated.filter(
          size(array_distinct(shingles)) * 5 > size(shingles) * 4)
        val dd = lowRep
          .withColumn("k", md5(array_join(slice(ts, 1, 2), " ")))
          .withColumn("minId", min("doc_id").over(Window.partitionBy("k")))
          .filter(col("doc_id") === col("minId"))
        val train = dd
          .filter(md5Long(col("doc_id").cast("string")) % 100 < 80)
          .select("doc_id", "source", "n_tok", "quality")
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        train
          .withColumn("cum", sum("n_tok").over(w))
          // exact integral divide — see q_pack_sequences
          .select(col("doc_id"), col("source"), col("n_tok"), col("quality"),
            expr("(cum - n_tok) div 2048").as("bin"))
          .orderBy("doc_id")
    },

    // ── deterministic training-order shuffle: every epoch-prep pipeline
    //    ends by randomizing document order; here order is a pure function
    //    of the id (an independent 'shuf:' hash channel), so the
    //    permutation is identical across engines, runs, and cluster sizes.
    //    Each doc gets a shard (hash-mod, the write partitioning) and a
    //    position within its shard (window ordered by the hash) — shards
    //    are written independently and a trainer reads them round-robin.
    //    Scale: one narrow map + per-shard windows; the full-corpus ORDER
    //    BY a random key (the naive shuffle) never happens. ─────────────────
    Q("q_shuffle_shards",
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, hv % 32 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 32 ORDER BY hv, doc_id)
        |       AS BIGINT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("shard").orderBy("hv", "doc_id")
        documents(s, d)
          .select(col("doc_id"),
            md5Long(concat(lit("shuf:"), col("doc_id").cast("string"))).as("hv"))
          .withColumn("shard", col("hv") % 32)
          .select(col("doc_id"), col("shard"),
            row_number().over(w).cast("long").as("pos"))
          .orderBy("doc_id")
    },

    // ── deterministic stratified sampling: per-language rates (downsample
    //    the dominant language to 25%, keep the tail at 100%) through an
    //    independent hash channel ('smp:' prefix, so the sample is
    //    uncorrelated with the train/val/test split buckets). Pure map
    //    stage at any scale. ───────────────────────────────────────────────
    // ── data-mixture construction: fill a global token budget (half the
    //    corpus) with per-source allocations proportional to a per-source
    //    weight, selecting documents deterministically (an independent
    //    'mix:' hash channel) until each source's allocation is spent — the
    //    "30% code / 50% web / 20% books" pass every pre-training run
    //    starts with. Scale shape: the naive form (one running-sum window
    //    per source) funnels each source through ONE task; here selection
    //    is bucket-thresholded instead — per-(source, hash-bucket) token
    //    sums (a 256-row-per-source aggregate) locate the cutoff bucket,
    //    whole buckets below it are selected by a broadcast-joined filter,
    //    and only the single cutoff bucket (1/256th of a source) pays a
    //    window. Same discipline as q_range_partition: the corpus is never
    //    globally ordered. Selection rule is greedy-prefix (a document is
    //    taken if its start offset lies inside the allocation), matching
    //    q_pack_sequences' spanning model; all arithmetic is exact BIGINT.
    Q("q_mix_sources",
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
        |    ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM documents),
        |tb AS (SELECT doc_id, source, n_tok, hv, hv % 256 AS bkt FROM t),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) // 2 AS budget FROM tb),
        |sw AS (SELECT source,
        |    CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS w
        |  FROM tb GROUP BY source),
        |ww AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM sw),
        |tgt AS (SELECT source, budget * w // tw AS target
        |        FROM sw CROSS JOIN tot CROSS JOIN ww),
        |bs AS (SELECT source, bkt, CAST(SUM(n_tok) AS BIGINT) AS btok
        |       FROM tb GROUP BY source, bkt),
        |br AS (SELECT source, bkt, btok,
        |    SUM(btok) OVER (PARTITION BY source ORDER BY bkt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bs),
        |cut AS (SELECT br.source, min(br.bkt) AS cutoff
        |        FROM br JOIN tgt ON br.source = tgt.source
        |        WHERE br.cum >= tgt.target GROUP BY br.source),
        |info AS (SELECT tgt.source, coalesce(cut.cutoff, 256) AS cutoff,
        |           coalesce(tgt.target - (br.cum - br.btok), 0) AS need
        |         FROM tgt LEFT JOIN cut ON tgt.source = cut.source
        |         LEFT JOIN br ON br.source = cut.source AND br.bkt = cut.cutoff),
        |full_sel AS (SELECT tb.doc_id, tb.source, tb.n_tok
        |             FROM tb JOIN info ON tb.source = info.source
        |             WHERE tb.bkt < info.cutoff),
        |part0 AS (SELECT tb.doc_id, tb.source, tb.n_tok, tb.hv, info.need
        |          FROM tb JOIN info
        |            ON tb.source = info.source AND tb.bkt = info.cutoff),
        |part_sel AS (SELECT doc_id, source, n_tok FROM (
        |    SELECT doc_id, source, n_tok, need,
        |      coalesce(SUM(n_tok) OVER (PARTITION BY source
        |        ORDER BY hv, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |    FROM part0) WHERE pre < need)
        |SELECT doc_id, source, n_tok
        |FROM (SELECT * FROM full_sel UNION ALL SELECT * FROM part_sel)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val tb = spread(documents(s, d))
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            md5Long(concat(lit("mix:"), col("doc_id").cast("string"))).as("hv"))
          .withColumn("bkt", col("hv") % 256)
          // five consumers (budget, weights, bucket sums, both selects) —
          // uncached, each re-tokenizes the corpus
          // ledger M24: q_mix_sources 1.7× slower without it
          .cache()
        // allocation dims: all driver-scale (1 row; |sources| rows) —
        // every join against them broadcasts, the corpus never shuffles
        val tot = tb.agg(expr("sum(n_tok) div 2").as("budget"))
        val sw = tb.groupBy("source").agg(
          expr("cast(cast(substr(source, 4) as int) % 4 + 1 as bigint)")
            .as("w"))
        val ww = sw.agg(sum("w").as("tw"))
        // tgt and br each feed TWO consumers inside the info DAG below
        // (cut reads both; cutRow reads br; info reads tgt) — exchange
        // reuse did not dedup them, and JobsX showed both aggregate
        // chains executing twice in overlapping twin jobs. Both frames
        // are driver-scale (|sources| and ≤256·|sources| rows), so an
        // eager checkpoint runs each chain exactly once (guide §2.4).
        val tgt = sw.crossJoin(tot).crossJoin(ww) // single-row sides
          .select(col("source"), expr("budget * w div tw").as("target"))
          // ledger M25: q_mix_sources 2.8× slower without its three checkpoints
          .localCheckpoint()
        val br = tb.groupBy("source", "bkt").agg(sum("n_tok").as("btok"))
          .withColumn("cum", sum("btok").over(
            Window.partitionBy("source").orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          // ledger M26: q_mix_sources 2.8× slower without its three checkpoints
          .localCheckpoint()
        val cut = br.join(tgt, Seq("source"))
          .filter(col("cum") >= col("target"))
          .groupBy("source").agg(min("bkt").as("cutoff"))
        // one row per source-with-cutoff: tokens consumed BEFORE the
        // cutoff bucket → how much of the allocation the bucket must fill
        val cutRow = br.join(cut, Seq("source"))
          .filter(col("bkt") === col("cutoff"))
          .select(col("source"), col("cutoff"),
            (col("cum") - col("btok")).as("before"))
        val info = tgt.join(cutRow, Seq("source"), "left")
          .select(col("source"),
            coalesce(col("cutoff"), lit(256L)).as("cutoff"),
            coalesce(col("target") - col("before"), lit(0L)).as("need"))
          // |sources| rows joined by BOTH selects below. EAGER checkpoint,
          // not cache (round 17): the two broadcast consumers run as
          // CONCURRENT AQE stages, and a lazily-cached frame gets
          // materialized by both at once — JobsX showed the whole
          // budget/weight/cutoff aggregate chain executing TWICE in
          // overlapping twin jobs despite the cache. The eager checkpoint
          // runs the chain exactly once, up front (guide §2.4).
          // ledger M27: q_mix_sources 2.8× slower without its three checkpoints
          .localCheckpoint()
        val fullSel = tb.join(broadcast(info), Seq("source"))
          .filter(col("bkt") < col("cutoff"))
          .select("doc_id", "source", "n_tok")
        // only the cutoff bucket (≈1/256th of a source) reaches the window
        val pre = Window.partitionBy("source").orderBy("hv", "doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val partSel = tb.join(broadcast(info), Seq("source"))
          .filter(col("bkt") === col("cutoff"))
          .withColumn("pre", coalesce(sum("n_tok").over(pre), lit(0L)))
          .filter(col("pre") < col("need"))
          .select("doc_id", "source", "n_tok")
        fullSel.union(partSel).orderBy("doc_id")
    },

    // ── PII redaction: replace e-mail addresses and IPv4 literals with
    //    typed placeholders and report per-document match counts plus the
    //    hash of the scrubbed text — the privacy-scrub pass between crawl
    //    and training corpus. The PII is planted deterministically from
    //    doc_id (the container has no real PII corpus), so both engines
    //    scrub byte-identical inputs; the patterns stay inside the common
    //    Java-regex/RE2 subset (classes, bounded repeats, \b) so the two
    //    engines' regex dialects agree. Pure narrow map at any scale —
    //    no shuffle, no UDF, codegen'd string ops end to end. ──────────────
    Q("q_pii_scrub",
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id
        |             || '@mail.example.com from 10.0.' || (doc_id % 256) || '.7'
        |         WHEN doc_id % 7 = 2 THEN text || ' ip 192.168.1.' || (doc_id % 200)
        |         ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
        |    AS scrub_hash
        |FROM aug ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
        val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
        val aug = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@mail.example.com from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7")))
          .when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" ip 192.168.1."),
              (col("doc_id") % 200).cast("string")))
          .otherwise(col("text"))
        spread(documents(s, d))
          .select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            regexp_count(col("t"), lit(emailRe)).cast("long").as("n_email"),
            regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ip"),
            md5(regexp_replace(
              regexp_replace(col("t"), emailRe, "<EMAIL>"),
              ipRe, "<IP>")).as("scrub_hash"))
          .orderBy("doc_id")
    },

    Q("q_sample_stratified",
      """WITH s AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5('smp:' || doc_id::VARCHAR), 1, 15))::BIGINT
        |      % 100 AS smp
        |  FROM documents)
        |SELECT doc_id, lang, smp FROM s
        |WHERE smp < CASE WHEN lang = 'en' THEN 25 ELSE 100 END
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"), col("lang"),
            (md5Long(concat(lit("smp:"), col("doc_id").cast("string"))) % 100)
              .as("smp"))
          .filter(col("smp") <
            when(col("lang") === "en", 25).otherwise(100))
          .orderBy("doc_id")
    },

    // ── importance resampling to a target distribution (round 11): rebalance
    //    the corpus so the n_chars length-bucket histogram (width-100
    //    buckets) becomes UNIFORM over the occupied buckets — the
    //    distribution-matching op run after q_ks_test flags a shift. Keep
    //    rate per bucket r = min(1, (N/B)/cnt) as exact integer millionths;
    //    selection is the engine rule: a doc survives iff
    //    md5("rs:"||doc_id) % 1e6 < r6 — hash-THRESHOLDED Bernoulli, so
    //    there is NO per-bucket row_number window (which would funnel a
    //    dominant bucket through one partition — the q_mix_sources lesson)
    //    and the decision is per-row, reproducible across engines, runs,
    //    and cluster sizes. Output is the per-bucket audit: before/after
    //    counts, the applied rate, and both shares. Scale: one map-combined
    //    groupBy for the histogram, the tiny rate table broadcast back, one
    //    map-side filter, one more map-combined groupBy — two corpus scans,
    //    zero windows, zero corpus-wide joins. Overflow: N·1e6 ≤ 9.2e18
    //    holds to ~9e12 docs. ─────────────────────────────────────────────
    Q("q_resample_target",
      s"""WITH b AS (SELECT doc_id, n_chars // 100 AS bucket FROM documents),
         |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_before
         |      FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n_before) AS BIGINT) AS n,
         |             CAST(count(*) AS BIGINT) AS nb FROM c),
         |r AS (SELECT c.bucket, c.n_before, t.n,
         |        least(1000000, (t.n * 1000000) // (t.nb * c.n_before))
         |          AS r6
         |      FROM c CROSS JOIN t),
         |k AS (SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_after
         |      FROM b JOIN r ON b.bucket = r.bucket
         |      WHERE ('0x' || substr(md5('rs:' || doc_id::VARCHAR), 1, 15))
         |              ::BIGINT % 1000000 < r.r6
         |      GROUP BY 1),
         |ta AS (SELECT CAST(coalesce(sum(n_after), 0) AS BIGINT) AS na
         |       FROM k)
         |SELECT r.bucket, r.n_before,
         |  CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after, r.r6,
         |  ${roundDivSql("r.n_before", "r.n", 6)} AS share_before,
         |  ${roundDivSql("coalesce(k.n_after, 0)", "greatest(ta.na, 1)", 6)}
         |    AS share_after
         |FROM r LEFT JOIN k ON r.bucket = k.bucket CROSS JOIN ta
         |ORDER BY r.bucket""".stripMargin) {
      (s, d) =>
        val b = documents(s, d)
          .select(col("doc_id"), intDivFloor(col("n_chars"), lit(100L))
            .as("bucket"))
        val c = b.groupBy("bucket").agg(count(lit(1)).as("n_before"))
        val t = c.agg(sum(col("n_before")).as("n"), count(lit(1)).as("nb"))
        val r = c.crossJoin(broadcast(t))
          .select(col("bucket"), col("n_before"), col("n"),
            least(lit(1000000L),
              intDivFloor(col("n") * lit(1000000L),
                col("nb") * col("n_before"))).as("r6"))
        val k = b.join(broadcast(r.select("bucket", "r6")), Seq("bucket"))
          .filter(md5Long(concat(lit("rs:"), col("doc_id").cast("string")))
            % 1000000L < col("r6"))
          .groupBy("bucket").agg(count(lit(1)).as("n_after"))
        val ta = k.agg(coalesce(sum(col("n_after")), lit(0L)).as("na"))
        r.join(k, Seq("bucket"), "left")
          .crossJoin(broadcast(ta))
          .select(col("bucket"), col("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"), col("r6"),
            roundDiv(col("n_before"), col("n"), 6).as("share_before"),
            roundDiv(coalesce(col("n_after"), lit(0L)),
              greatest(col("na"), lit(1L)), 6).as("share_after"))
          .orderBy("bucket")
    },

    // ── dataset version diff (round 13): the release-notes audit every
    //    corpus version bump publishes — which documents were added,
    //    removed, changed, or untouched between generation v1 and v2. A
    //    DETERMINISTIC v2 is derived from v1 (doc_id%10==3 dropped,
    //    %10==7 edited by an appended token, %10==0 cloned as new docs at
    //    doc_id+stride with stride = max(doc_id)+1 — data-derived, never a
    //    literal) and WRITTEN to a staging parquet generation, so the diff
    //    below runs against a real second table, not a plan alias. Status
    //    classification is the canonical shape: FULL OUTER join on doc_id
    //    with md5(text) content hashes compared — null left ⇒ added, null
    //    right ⇒ removed, hash mismatch ⇒ changed. Scale: each side is one
    //    scan computing (id, source, md5) in-line; the join is the single
    //    doc_id-hash exchange a 100 TB diff needs (both sides narrow
    //    3-column projections, never the text); the result aggregate is
    //    |status|×|sources| rows. ───────────────────────────────────────────
    Q("q_dataset_diff",
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |mx AS (SELECT max(doc_id) + 1 AS stride FROM documents),
        |v2 AS (SELECT doc_id, source, md5(text) AS h FROM documents
        |         WHERE doc_id % 10 NOT IN (3, 7)
        |       UNION ALL
        |       SELECT doc_id, source, md5(text || ' rev2') FROM documents
        |         WHERE doc_id % 10 = 7
        |       UNION ALL
        |       SELECT d.doc_id + mx.stride, d.source,
        |           md5('added ' || d.text)
        |         FROM documents d CROSS JOIN mx WHERE d.doc_id % 10 = 0),
        |j AS (SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
        |             WHEN v2.doc_id IS NULL THEN 'removed'
        |             WHEN v1.h = v2.h THEN 'unchanged'
        |             ELSE 'changed' END AS status,
        |        coalesce(v1.source, v2.source) AS source
        |      FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, source, count(*) AS n
        |FROM j GROUP BY status, source ORDER BY status, source""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
        val mx = docs.agg((max(col("doc_id")) + 1).as("stride"))
        val v2src = docs
          .filter(!(col("doc_id") % 10).isin(3, 7))
          .select(col("doc_id"), col("source"), col("text"))
          .unionAll(docs.filter(col("doc_id") % 10 === 7)
            .select(col("doc_id"), col("source"),
              concat(col("text"), lit(" rev2")).as("text")))
          .unionAll(docs.filter(col("doc_id") % 10 === 0)
            .crossJoin(broadcast(mx))
            .select((col("doc_id") + col("stride")).as("doc_id"),
              col("source"), concat(lit("added "), col("text")).as("text")))
        val dir = Sinks.stagingDir("graft-dataset-diff", d)
        v2src.write.mode("overwrite").parquet(dir)
        val v1 = docs.select(col("doc_id"), col("source"),
          md5(col("text")).as("h"))
        val v2 = parquet(s, dir).select(col("doc_id"), col("source"),
          md5(col("text")).as("h"))
        v1.as("a").join(v2.as("b"),
            col("a.doc_id") === col("b.doc_id"), "full_outer")
          .select(
            when(col("a.doc_id").isNull, "added")
              .when(col("b.doc_id").isNull, "removed")
              .when(col("a.h") === col("b.h"), "unchanged")
              .otherwise("changed").as("status"),
            coalesce(col("a.source"), col("b.source")).as("source"))
          .groupBy("status", "source")
          .agg(count(lit(1)).as("n"))
          .orderBy("status", "source")
    }
  )
}
