package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables._

/** Sink/source round-trip queries: the K1 CSV sink (reference
  * `main.py:280-289` writes the result as a header CSV) exercised under the
  * oracle hash gate, not just spec-tested — the declared result is computed
  * FROM the files the CSV writer produced, so quoting, header handling,
  * double formatting and date formatting are all on the hashed path.
  */
object Sinks {

  val all: Seq[Q] = Seq(

    // ── CSV round-trip: project a lineitem subset, write it as a header
    //    CSV (the K1 sink), read it back through the CSV source with the
    //    ORIGINAL schema, and aggregate the re-read rows. Lossless by
    //    construction: longs/strings are verbatim, doubles print as
    //    shortest-exact Java repr and re-parse to the identical bits, and
    //    the timestamp is cast to DATE before the write so no sub-second
    //    format truncation can leak in. The aggregate is order-insensitive
    //    (counts + DECIMAL sums), so the multi-file parallel write/read
    //    never affects the hash. Scale: write and read are both
    //    partition-parallel; the only shuffle is the final small groupBy. ──
    Q("q_csv_roundtrip",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS min_ship,
        |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_ship
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        val src = lineitem(s, d)
          .filter(col("l_orderkey") % 7 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_linestatus"), col("l_quantity"),
            col("l_shipdate").cast("date").as("l_shipdate"))
        // per-build generation dir (see stagingDir): repeated builds (Bench
        // warm-up + timed passes, plan specs) never overwrite files a
        // previously-built plan still lazily references, and disk stays
        // bounded at two generations per purpose
        val dir = stagingDir("graft-csv-roundtrip", d)
        src.write.mode("overwrite").option("header", "true").csv(dir)
        val back = s.read.schema(src.schema).option("header", "true").csv(dir)
        back.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            min(col("l_shipdate")).cast("string").as("min_ship"),
            max(col("l_shipdate")).cast("string").as("max_ship"))
          .orderBy("l_returnflag", "l_linestatus")
    },

    // ── ORC round-trip: the same sink+source discipline as
    //    q_csv_roundtrip over Spark's other bundled columnar format —
    //    write a lineitem subset as ORC, aggregate the read-back files.
    //    Completes the source/sink matrix (parquet scan everywhere, JSON
    //    via Snapshots, CSV and ORC here). Binary columnar round-trip is
    //    exact by construction; the aggregate stays order-insensitive
    //    anyway (counts + DECIMAL sums). ────────────────────────────────────
    Q("q_orc_roundtrip",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey % 11 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        val src = lineitem(s, d)
          .filter(col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
        val dir = stagingDir("graft-orc-roundtrip", d)
        src.write.mode("overwrite").orc(dir)
        s.read.schema(src.schema).orc(dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("l_returnflag")
    },

    // ── Z-order layout planning: the multi-dimensional clustering every
    //    100 TB lake uses when queries filter on TWO columns. Each row's
    //    (x, y) in a 1024×1024 key space (two disjoint 10-bit fields of
    //    ONE md5 of the row key — independent bits, one hash per row, and
    //    the space is fully populated at every scale factor) is
    //    interleaved bit-by-bit into a 20-bit Morton key; 64
    //    equal key-range files per layout. The
    //    declared result is the data-skipping arithmetic a parquet reader
    //    does with footer stats: a file is READ iff its per-file [min,max]
    //    of x AND of y both overlap the query box. Z-order files are
    //    128×128 tiles (tight in BOTH dims) → the 100×100 box touches ~4
    //    files; an x-sorted layout is tight in x only → every x-matching
    //    file is read regardless of y. All-integer math, so the skipping
    //    counts are engine-exact. ─────────────────────────────────────────
    Q("q_zorder", {
      // Morton interleave, spelled once per engine from the same formula:
      // bit b of x lands at position 2b, bit b of y at 2b+1.
      val zDuck = (0 until 10).map(b =>
        s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH h AS (SELECT
         |    ('0x' || substr(md5('z:' || l_orderkey::VARCHAR || ':' ||
         |       l_linenumber::VARCHAR), 1, 15))::BIGINT AS hv
         |  FROM lineitem),
         |t AS (SELECT hv % 1024 AS x, (hv // 1024) % 1024 AS y FROM h),
         |z AS (SELECT x, y, ($zDuck) // 16384 AS file_z,
         |             x // 16 AS file_x, y // 16 AS file_y FROM t),
         |sz AS (SELECT file_z, min(x) AS x0, max(x) AS x1,
         |              min(y) AS y0, max(y) AS y1 FROM z GROUP BY file_z),
         |sx AS (SELECT file_x, min(x) AS x0, max(x) AS x1,
         |              min(y) AS y0, max(y) AS y1 FROM z GROUP BY file_x),
         |sy AS (SELECT file_y, min(x) AS x0, max(x) AS x1,
         |              min(y) AS y0, max(y) AS y1 FROM z GROUP BY file_y),
         |nr AS (SELECT count(*) AS n_rows FROM t
         |       WHERE x BETWEEN 100 AND 199 AND y BETWEEN 300 AND 399),
         |fz AS (SELECT count(*) AS files_z FROM sz
         |       WHERE x1 >= 100 AND x0 <= 199 AND y1 >= 300 AND y0 <= 399),
         |fx AS (SELECT count(*) AS files_x FROM sx
         |       WHERE x1 >= 100 AND x0 <= 199 AND y1 >= 300 AND y0 <= 399),
         |fy AS (SELECT count(*) AS files_y FROM sy
         |       WHERE x1 >= 100 AND x0 <= 199 AND y1 >= 300 AND y0 <= 399)
         |SELECT n_rows, files_z, files_x, files_y
         |FROM nr CROSS JOIN fz CROSS JOIN fx CROSS JOIN fy""".stripMargin
    }) { (s, d) =>
      val zCol = (0 until 10).map(b =>
        (shiftright(col("x"), b) % 2) * lit(1L << (2 * b)) +
          (shiftright(col("y"), b) % 2) * lit(1L << (2 * b + 1)))
        .reduce(_ + _)
      import graft.ops.Exprs.md5Long
      val hv = md5Long(concat(lit("z:"),
        col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")))
      val z = lineitem(s, d)
        .select(hv.as("hv"))
        .select((col("hv") % 1024).as("x"),
          expr("(hv div 1024) % 1024").as("y"))
        .withColumn("zval", zCol)
        .select(col("x"), col("y"), expr("zval div 16384").as("file_z"),
          expr("x div 16").as("file_x"), expr("y div 16").as("file_y"))
        // ledger M77: q_zorder 1.13× slower without it
        .cache() // one narrow pass feeds the box count + three stats aggs
      val box = col("x1") >= 100 && col("x0") <= 199 &&
        col("y1") >= 300 && col("y0") <= 399
      def touched(fileCol: String, as: String) =
        z.groupBy(fileCol)
          .agg(min("x").as("x0"), max("x").as("x1"),
            min("y").as("y0"), max("y").as("y1"))
          .filter(box).agg(count(lit(1)).as(as))
      val nr = z.filter(col("x").between(100, 199) && col("y").between(300, 399))
        .agg(count(lit(1)).as("n_rows"))
      nr.crossJoin(touched("file_z", "files_z"))
        .crossJoin(touched("file_x", "files_x"))
        .crossJoin(touched("file_y", "files_y"))
    },

    // ── Hilbert-curve layout planning (q_zorder's stronger sibling — the
    //    curve behind liquid-style clustering): the same md5-derived
    //    1024×1024 key space, keyed by the Hilbert index computed as TEN
    //    UNROLLED rotation steps of pure integer CASE arithmetic — the
    //    (3·rx)^ry term is spelled rx·(3−ry)+(1−rx)·ry so both engines run
    //    the identical xor-free formula (validated against the classical
    //    xy2d algorithm). The declared result is what a reader measures on
    //    the occupied cells of a 100×100 query box: files touched per
    //    layout (64 equal key-range files each) AND the number of
    //    contiguous key RUNS to fetch — the seek count, where Hilbert's
    //    locality beats Morton's diagonal jumps. The runs windows order
    //    ≤10⁴ box cells (bounded by the box, not the table). ───────────────
    Q("q_hilbert", {
      def step(i: Int): String = {
        val s = 1024 >> (i + 1)
        val rx = s"(CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END)"
        val ry = s"(CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END)"
        s"""h${i + 1} AS (SELECT
           |  d$i + ${s.toLong * s} * ($rx*(3-$ry) + (1-$rx)*$ry) AS d${i + 1},
           |  CASE WHEN $ry=1 THEN x$i WHEN $rx=1 THEN ${s - 1}-y$i ELSE y$i END AS x${i + 1},
           |  CASE WHEN $ry=1 THEN y$i WHEN $rx=1 THEN ${s - 1}-x$i ELSE x$i END AS y${i + 1},
           |  x0, y0 FROM h$i)""".stripMargin
      }
      val zDuck = (0 until 10).map(b =>
        s"(((x0 >> $b) & 1) << ${2 * b}) + (((y0 >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      def runs(keyed: String, k: String, as: String): String =
        s"""(SELECT count(*) AS $as FROM
           |  (SELECT $k, lag($k) OVER (ORDER BY $k) AS prev FROM $keyed)
           |  WHERE prev IS NULL OR $k - prev > 1)""".stripMargin
      s"""WITH pts AS (SELECT
         |    ('0x' || substr(md5('z:' || l_orderkey::VARCHAR || ':' ||
         |       l_linenumber::VARCHAR), 1, 15))::BIGINT AS hv
         |  FROM lineitem),
         |cells AS (SELECT DISTINCT hv % 1024 AS x, (hv // 1024) % 1024 AS y
         |          FROM pts
         |          WHERE hv % 1024 BETWEEN 100 AND 199
         |            AND (hv // 1024) % 1024 BETWEEN 300 AND 399),
         |h0 AS (SELECT x AS x0, y AS y0, 0::BIGINT AS d0 FROM cells),
         |${(0 until 10).map(step).mkString(",\n")},
         |keyed AS (SELECT d10 AS hk, ($zDuck) AS zk, x0 * 1024 + y0 AS xk
         |          FROM h10),
         |nc AS (SELECT count(*) AS n_cells FROM keyed),
         |fh AS (SELECT count(DISTINCT hk // 16384) AS files_hilbert FROM keyed),
         |fz AS (SELECT count(DISTINCT zk // 16384) AS files_z FROM keyed),
         |rh AS ${runs("keyed", "hk", "runs_hilbert")},
         |rz AS ${runs("keyed", "zk", "runs_z")},
         |rx AS ${runs("keyed", "xk", "runs_x")}
         |SELECT n_cells, files_hilbert, files_z,
         |  runs_hilbert, runs_z, runs_x
         |FROM nc CROSS JOIN fh CROSS JOIN fz
         |CROSS JOIN rh CROSS JOIN rz CROSS JOIN rx""".stripMargin
    }) { (s, d) =>
      import graft.ops.Exprs.md5Long
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.expressions.Window
      val hv = md5Long(concat(lit("z:"),
        col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")))
      val cells = lineitem(s, d)
        .select(hv.as("hv"))
        .select((col("hv") % 1024).as("x"),
          expr("(hv div 1024) % 1024").as("y"))
        .filter(col("x").between(100, 199) && col("y").between(300, 399))
        .distinct()
      // ten unrolled Hilbert steps; each select references only attributes
      // of the previous projection, so the plan stays a linear chain
      var df = cells.select(col("x").as("x0"), col("y").as("y0"),
        lit(0L).as("d0"))
      for (i <- 0 until 10) {
        val sh = 1024 >> (i + 1)
        val rx = when(col(s"x$i").bitwiseAND(lit(sh.toLong)) > 0, 1L)
          .otherwise(0L)
        val ry = when(col(s"y$i").bitwiseAND(lit(sh.toLong)) > 0, 1L)
          .otherwise(0L)
        df = df.select(col("x0"), col("y0"),
          (col(s"d$i") + lit(sh.toLong * sh) *
            (rx * (lit(3L) - ry) + (lit(1L) - rx) * ry)).as(s"d${i + 1}"),
          when(ry === 1, col(s"x$i"))
            .when(rx === 1, lit((sh - 1).toLong) - col(s"y$i"))
            .otherwise(col(s"y$i")).as(s"x${i + 1}"),
          when(ry === 1, col(s"y$i"))
            .when(rx === 1, lit((sh - 1).toLong) - col(s"x$i"))
            .otherwise(col(s"x$i")).as(s"y${i + 1}"))
      }
      val zCol = (0 until 10).map(b =>
        (shiftright(col("x0"), b) % 2) * lit(1L << (2 * b)) +
          (shiftright(col("y0"), b) % 2) * lit(1L << (2 * b + 1)))
        .reduce(_ + _)
      val keyed = df.select(col("d10").as("hk"), zCol.as("zk"),
        (col("x0") * 1024 + col("y0")).as("xk"))
      // one pass: three stacked lag windows (≤10⁴ box cells each) feed a
      // SINGLE aggregation — run starts counted conditionally, file counts
      // as count_distinct — so the whole readout is one linear plan with
      // no single-row cross joins
      def runStart(k: String, prev: String): Column =
        when(col(prev).isNull || col(k) - col(prev) > 1, 1L).otherwise(0L)
      keyed
        .withColumn("ph", lag(col("hk"), 1).over(Window.orderBy("hk")))
        .withColumn("pz", lag(col("zk"), 1).over(Window.orderBy("zk")))
        .withColumn("px", lag(col("xk"), 1).over(Window.orderBy("xk")))
        .agg(count(lit(1)).as("n_cells"),
          count_distinct(expr("hk div 16384")).as("files_hilbert"),
          count_distinct(expr("zk div 16384")).as("files_z"),
          sum(runStart("hk", "ph")).as("runs_hilbert"),
          sum(runStart("zk", "pz")).as("runs_z"),
          sum(runStart("xk", "px")).as("runs_x"))
    },

    // ── partition-pruned lake layout: write orders partitioned by
    //    o_orderstatus (the date/tenant-partitioned layout every 100 TB
    //    lake uses), read it back with a partition-key filter, aggregate.
    //    The filter never touches file contents — it prunes DIRECTORIES at
    //    planning time (PartitionFilters in the scan, pinned by
    //    PushdownSpec), so at scale the query reads 1/3 of the lake, not
    //    1/3 of each file. The aggregate matches the unpartitioned oracle
    //    exactly: a layout change must never change results. ───────────────
    // ── schema evolution read (round 13): the lake-ops semantics every
    //    long-lived table eventually needs — an old generation written
    //    WITHOUT a column (here event_type, the "column added later" case)
    //    must union with the new generation under mergeSchema, the missing
    //    column null-filling for old files. The declared aggregate groups
    //    on the evolved column with nulls mapped to a sentinel, so BOTH
    //    halves of the union (and the null-fill itself) are under the hash
    //    gate; the oracle re-derives the same rows from the source table
    //    with the generation rule inlined — a schema-evolution read must
    //    never change data. Scale: mergeSchema reconciles footers across
    //    files (a bounded per-file metadata read, distributed by Spark's
    //    schema-merge job); production tables pin the merged schema in a
    //    catalog instead of re-deriving it per read — this query pins the
    //    SEMANTICS that catalog entry must reproduce. ──────────────────────
    Q("q_schema_merge",
      """SELECT CASE WHEN event_id % 2 = 1 AND event_type IS NOT NULL
        |       THEN event_type ELSE '(pre-schema)' END AS etype,
        |  count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY etype""".stripMargin) {
      (s, d) =>
        val ev = events(s, d)
        val dir = stagingDir("graft-schema-merge", d)
        // generation 1: the three original columns only
        ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("value"))
          .write.mode("overwrite").parquet(s"$dir/gen1")
        // generation 2: the schema grew an event_type column
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").parquet(s"$dir/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$dir/gen1", s"$dir/gen2")
          .groupBy(coalesce(col("event_type"), lit("(pre-schema)"))
            .as("etype"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("sum_v"))
          .orderBy("etype")
    },

    // ── JSON-lines round-trip: same sink+source discipline as
    //    q_csv_roundtrip over the line-delimited JSON format — completes
    //    the bundled format matrix (parquet everywhere, JSON source via
    //    Snapshots, CSV/ORC/JSON sinks here). Doubles print as
    //    shortest-exact repr and re-parse to identical bits; the date goes
    //    through its canonical string form; the aggregate stays
    //    order-insensitive (counts + DECIMAL sums). ─────────────────────────
    Q("q_json_roundtrip",
      """SELECT l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
        |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_ship
        |FROM lineitem WHERE l_orderkey % 13 = 0
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) {
      (s, d) =>
        val src = lineitem(s, d)
          .filter(col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linestatus"), col("l_discount"),
            col("l_shipdate").cast("date").as("l_shipdate"))
        val dir = stagingDir("graft-json-roundtrip", d)
        src.write.mode("overwrite").json(dir)
        s.read.schema(src.schema).json(dir)
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_discount").cast("decimal(18,2)")).cast("double")
              .as("sum_disc"),
            max(col("l_shipdate")).cast("string").as("max_ship"))
          .orderBy("l_linestatus")
    },

    // ── incremental materialized-view maintenance: the per-customer order
    //    summary MV is REFRESHED, not recomputed — the base aggregate (all
    //    orders before a data-derived 90-day cutoff) is persisted to parquet
    //    once, and the refresh merges only the delta partition's partial
    //    aggregate into the read-back base (union + re-aggregate of two
    //    partial-agg frames, the algebraic-merge property of count/sum).
    //    At 100 TB this is THE aggregation-serving shape: refresh cost is
    //    O(delta + |MV|), never O(history). Sums ride DECIMAL(18,2) partials
    //    so base+delta merge is exact and order-independent; the oracle is
    //    the full recompute — a refresh must be indistinguishable from one. ──
    Q("q_mv_refresh",
      """WITH cut AS (SELECT max(o_orderdate) - INTERVAL 90 DAY AS c
        |             FROM orders)
        |SELECT o_custkey, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) {
      (s, d) =>
        val cut = orders(s, d).agg(max(col("o_orderdate")).as("m"))
          .select((col("m") - expr("INTERVAL 90 DAYS")).as("cutoff"))
        def partialAgg(pred: org.apache.spark.sql.Column) =
          orders(s, d).crossJoin(broadcast(cut)).filter(pred)
            .groupBy("o_custkey")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
        val dir = stagingDir("graft-mv-base", d)
        partialAgg(col("o_orderdate") < col("cutoff"))
          .write.mode("overwrite").parquet(dir)
        val base = parquet(s, dir)
        val delta = partialAgg(col("o_orderdate") >= col("cutoff"))
        base.unionByName(delta)
          .groupBy("o_custkey")
          .agg(sum(col("n")).as("n"),
            sum(col("total")).cast("double").as("total"))
          .orderBy("o_custkey")
    },

    // ── CDC-COMPLETE materialized-view maintenance: q_mv_refresh handles
    //    the insert channel; this adds DELETES. The CDC stream deletes a
    //    deterministic subset of pre-cutoff orders (o_orderkey % 10 = 7 —
    //    rows already inside the persisted base MV) and inserts the
    //    post-cutoff orders. Because count/sum are commutative-GROUP
    //    aggregates (they have inverses), a delete is just a RETRACTION
    //    partial with negated measures — the merge stays one
    //    union + re-aggregate, O(base + delta), never O(history), and
    //    order-independent because the measures ride exact DECIMAL(18,2).
    //    Customers whose live count drops to zero leave the MV (the
    //    HAVING n > 0 gate) — exactly what the full-recompute oracle
    //    produces by never seeing their rows. ──────────────────────────────
    Q("q_mv_refresh_cdc",
      """WITH cut AS (SELECT max(o_orderdate) - INTERVAL 90 DAY AS c
        |             FROM orders),
        |live AS (SELECT o_custkey, o_totalprice FROM orders CROSS JOIN cut
        |         WHERE NOT (o_orderdate < c AND o_orderkey % 10 = 7))
        |SELECT o_custkey, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM live GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) {
      (s, d) =>
        val cut = orders(s, d).agg(max(col("o_orderdate")).as("m"))
          .select((col("m") - expr("INTERVAL 90 DAYS")).as("cutoff"))
        def partialAgg(pred: org.apache.spark.sql.Column) =
          orders(s, d).crossJoin(broadcast(cut)).filter(pred)
            .groupBy("o_custkey")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
        val dir = stagingDir("graft-mv-cdc-base", d)
        partialAgg(col("o_orderdate") < col("cutoff"))
          .write.mode("overwrite").parquet(dir)
        val base = parquet(s, dir)
        val inserts = partialAgg(col("o_orderdate") >= col("cutoff"))
        // the delete channel, folded to a retraction partial: negated
        // count and negated sum, same schema as the base/insert partials
        val retracts = orders(s, d).crossJoin(broadcast(cut))
          .filter(col("o_orderdate") < col("cutoff") &&
            col("o_orderkey") % 10 === 7)
          .groupBy("o_custkey")
          .agg((-count(lit(1))).as("n"),
            (-sum(col("o_totalprice").cast("decimal(18,2)"))).as("total"))
        base.unionByName(inserts).unionByName(retracts)
          .groupBy("o_custkey")
          .agg(sum(col("n")).as("n"),
            sum(col("total")).cast("double").as("total"))
          .filter(col("n") > 0)
          .orderBy("o_custkey")
    },

    Q("q_partition_prune",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) => prunedOrdersScan(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    }
  )

  /** The partition-pruned scan under q_partition_prune, exposed so the plan
    * spec can assert the scan carries PartitionFilters (pruning happened at
    * planning, not execution).
    */
  def prunedOrdersScan(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = stagingDir("graft-partitioned-orders", d)
    orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)
    parquet(s, dir).filter(col("o_orderstatus") === "F")
  }

  /** Staging paths for sink round-trip queries. Three lifecycle rules:
    *
    *  - The whole tree lives under ONE process-owned temp root
    *    (`Files.createTempDirectory`, deleted on JVM exit), so a foreign
    *    process can neither pre-own the path nor poison the read-back, and
    *    concurrent JVMs (Bench while Verify runs) never share a directory.
    *  - Each (purpose, input dir) pair gets a fresh GENERATION subdir per
    *    build, so a rebuilt query writes new files instead of overwriting
    *    ones a previously-built (still collectable) plan references.
    *  - Generations older than the previous one are pruned on each build —
    *    disk use stays bounded at ≤2 generations per purpose no matter how
    *    many times Bench/specs rebuild the query in one process.
    */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }
  private lazy val stagingRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-staging-")
    sys.addShutdownHook { rmTree(p.toFile) }
    p
  }
  private val generation =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private def inputTag(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Build-once staging for PERSISTED-index queries (round 14): a
    * persisted index's semantics are "built once, stored in the lake,
    * probed per query batch" — so unlike [[stagingDir]]'s per-build
    * generations (right for sink ROUND-TRIP queries, where the write IS
    * the thing under test), the index here is built on first use per
    * (purpose, input dir) and every later execution in the process reads
    * the same files back with zero write jobs (VERDICT r13 #5: Bench
    * iterations and repeat Verify runs were paying the index write every
    * execution). `computeIfAbsent` is the build lock: a concurrent second
    * builder blocks until the first finishes, and a FAILED build leaves no
    * mapping, so the next caller rebuilds instead of probing a half-
    * written directory. Contents are a pure function of the input dir
    * (the tag), so reuse can never change results; the tree still lives
    * under the process-owned temp root, deleted on JVM exit.
    *
    * Locking (ADVICE r14): the build — a full Spark index write, possibly
    * minutes — must NOT run inside `computeIfAbsent`, which holds the
    * map-bin lock for its duration: unrelated builds hashing to the same
    * bin would serialize behind it, and a reentrant call from inside a
    * build closure would die with CHM's opaque "recursive update". So the
    * memo stores a per-key future claimed by `putIfAbsent` (lock held only
    * for the pointer swap); the winning thread builds OUTSIDE any map
    * lock and completes the future, losers await it. A same-key reentrant
    * call is detected via the owner-thread map and fails with a named
    * IllegalStateException; distinct keys never contend at all.
    */
  private val builtOnce = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]
  private val buildOwner =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]
  private[graft] def buildOnceDir(prefix: String, sfDir: String)(
      build: String => Unit): String = {
    val key = s"$prefix-${inputTag(sfDir)}"
    val mine = new java.util.concurrent.CompletableFuture[String]
    val prior = builtOnce.putIfAbsent(key, mine)
    if (prior == null) {
      buildOwner.put(key, Thread.currentThread())
      try {
        val p = stagingRoot.resolve(key)
        java.nio.file.Files.createDirectories(p)
        build(p.toString)
        mine.complete(p.toString)
      } catch {
        case t: Throwable =>
          // a FAILED build leaves no mapping AND no files (ADVICE r15: the
          // half-written staging dir used to survive, so the retry's build
          // closure had to tolerate leftovers — e.g. a Spark write without
          // overwrite mode fails on an existing path); delete the tree
          // before unmapping so the next caller rebuilds from a clean dir
          try rmTree(stagingRoot.resolve(key).toFile)
          catch { case _: Exception => () }
          builtOnce.remove(key, mine)
          mine.completeExceptionally(t)
          throw t
      } finally buildOwner.remove(key, Thread.currentThread())
      awaitBuilt(mine)
    } else {
      if (!prior.isDone &&
          (buildOwner.get(key) eq Thread.currentThread()))
        throw new IllegalStateException(
          s"reentrant buildOnceDir('$key') from inside its own build closure")
      awaitBuilt(prior)
    }
  }
  /** Await a memoized build, unwrapping the waiter-side CompletionException
    * so callers see the original build failure either way.
    */
  private def awaitBuilt(
      f: java.util.concurrent.CompletableFuture[String]): String =
    try f.join()
    catch {
      case e: java.util.concurrent.CompletionException
          if e.getCause != null => throw e.getCause
    }

  private[graft] def stagingDir(prefix: String, sfDir: String): String = {
    val tag = inputTag(sfDir)
    val purpose = stagingRoot.resolve(s"$prefix-$tag")
    val gen = generation
      .computeIfAbsent(purpose.toString,
        _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()
    // prune everything older than the previous generation
    val keep = Set(gen.toString, (gen - 1).toString)
    Option(purpose.toFile.listFiles()).foreach(_.foreach { f =>
      if (!keep(f.getName)) {
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
        }
        rm(f)
      }
    })
    val p = purpose.resolve(gen.toString)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}
