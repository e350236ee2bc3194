package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables._
import graft.ops.Exprs.md5Long

/** Joins — SURVEY.md §2.4 (J1–J3 + declared parity semi/anti/as-of).
  *
  * Scale notes:
  *   - dimension sides (nation/region/supplier, and orders-per-key dims) are
  *     wrapped in `broadcast()` — at 100 TB the fact side streams and never
  *     shuffles for these joins;
  *   - the fact⋈fact join (lineitem⋈orders) shuffles on the join key, which
  *     is the partitioning a production layout would bucket on
  *     (`bucketBy(l_orderkey)`), making it shuffle-free;
  *   - the as-of join uses the union + ordered-window idiom: ONE shuffle of
  *     both inputs on the partition key, no row explosion, no per-key
  *     nested-loop — this is the 100 TB-safe replacement for the reference's
  *     N+1 "latest per station" endpoint (`main.py:175-180`).
  */
object Joins {

  val all: Seq[Q] = Seq(

    // ── J1: fact ⋈ fact hash equi-join (reference's sensor-map probe) ───
    Q("q_join_inner",
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) {
      (s, d) =>
        // (l_orderkey, l_linenumber) is non-unique → include l_quantity so
        // any remaining ties are identical output rows.
        lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus",
            "l_quantity")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },

    // ── J1 broadcast flavor: fact ⋈ small dims, zero fact-side shuffle ──
    Q("q_broadcast_join",
      """SELECT n_name, s_name, count(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, s_name ORDER BY n_name, s_name""".stripMargin) {
      (s, d) =>
        lineitem(s, d)
          .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name", "s_name")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("n_name", "s_name")
    },

    // ── the production layout for the fact⋈fact join: both sides written
    //    bucketed (+ sorted) by the join key into the warehouse, so the
    //    sort-merge join reads buckets pairwise and the plan contains NO
    //    exchange before the join — at 100 TB the dominant network cost of
    //    lineitem⋈orders becomes pure local reads. The one-time bucketed
    //    write is the query's setup stage (projected to the referenced
    //    columns only); BucketingSpec asserts the shuffle-free plan, this
    //    declared query proves the rows against the plain-join oracle. ─────
    Q("q_bucketed_join",
      """SELECT o_orderstatus, l_returnflag, count(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus, l_returnflag
        |ORDER BY o_orderstatus, l_returnflag""".stripMargin) {
      (s, d) =>
        // per-sfDir table names: the warehouse dir persists across sessions
        // (tests/Verify/Bench share a cwd) — never alias different SFs
        val tag = java.lang.Integer.toHexString(d.hashCode)
        val (li, ord) = (s"graft_li_bkt_$tag", s"graft_ord_bkt_$tag")
        // The bucketed layout is a ONE-TIME ETL cost amortized over every
        // query against it — rebuild only if this session hasn't yet (the
        // in-memory catalog forgets across sessions, so Verify/Bench each
        // start fresh; repeat calls in one session reuse the layout and
        // time the join, not the write).
        if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
          // catalog-unknown but warehouse files may survive a prior session —
          // clear BOTH or the managed-table create fails LOCATION_ALREADY_EXISTS
          Seq(li, ord).foreach { t =>
            s.sql(s"DROP TABLE IF EXISTS $t")
            val p = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), t)
            p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          }
          lineitem(s, d).select("l_orderkey", "l_quantity", "l_returnflag")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable(li)
          orders(s, d).select("o_orderkey", "o_orderstatus")
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable(ord)
        }
        s.table(li).join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus", "l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("o_orderstatus", "l_returnflag")
    },

    // ── hot-key mitigation, declared + oracle-proven: the salted join is
    //    row-identical to the plain equi-join for ANY salt assignment, so
    //    plain SQL oracles the rewritten (salt-spread) physical plan ──────
    Q("q_salted_join",
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) {
      (s, d) =>
        val dim = supplier(s, d)
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        graft.ops.Skew.saltedJoin(
          lineitem(s, d).select("l_suppkey", "l_quantity"), dim,
          Seq("l_suppkey"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("s_nationkey")
    },

    // ── J2: snowflake dimension enrichment ──────────────────────────────
    Q("q_join_dim",
      """SELECT r_name, n_name, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) {
      (s, d) =>
        customer(s, d)
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_cust"))
          .orderBy("r_name", "n_name")
    },

    // ── F6/J1: semi-join (membership half of the sensor-map probe) ──────
    Q("q_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        customer(s, d)
          .join(orders(s, d).filter(col("o_totalprice") > 300000),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
    },

    // ── parity: anti join ───────────────────────────────────────────────
    // The right side is filtered (high-value orders) so survivors exist at
    // every SF: customers whose every order is ≤ 300k. An unfiltered right
    // side returns 0 rows on this data (every customer has an order), which
    // would let a broken anti join pass trivially.
    Q("q_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        customer(s, d)
          .join(orders(s, d).filter(col("o_totalprice") > 300000),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
    },

    // ── left outer: keep unmatched left rows (null-extended right) ──────
    Q("q_join_left",
      """SELECT c_custkey, o_orderkey, o_orderstatus
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND o_totalprice > 400000
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) {
      (s, d) =>
        customer(s, d).select("c_custkey")
          .join(orders(s, d).filter(col("o_totalprice") > 400000)
            .select("o_custkey", "o_orderkey", "o_orderstatus"),
            col("o_custkey") === col("c_custkey"), "left")
          .select("c_custkey", "o_orderkey", "o_orderstatus")
          .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // ── full outer: both sides null-extended ────────────────────────────
    Q("q_join_full",
      """WITH hi AS (SELECT o_orderkey, o_totalprice FROM orders
        |            WHERE o_totalprice > 350000),
        |urgent AS (SELECT o_orderkey, o_orderpriority FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT coalesce(hi.o_orderkey, urgent.o_orderkey) AS k,
        |  o_totalprice, o_orderpriority
        |FROM hi FULL OUTER JOIN urgent ON hi.o_orderkey = urgent.o_orderkey
        |ORDER BY k""".stripMargin) {
      (s, d) =>
        val hi = orders(s, d).filter(col("o_totalprice") > 350000)
          .select(col("o_orderkey").as("hk"), col("o_totalprice"))
        val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("uk"), col("o_orderpriority"))
        hi.join(urgent, col("hk") === col("uk"), "full_outer")
          .select(coalesce(col("hk"), col("uk")).as("k"),
            col("o_totalprice"), col("o_orderpriority"))
          .orderBy("k")
    },

    // ── cross join: bounded dims ONLY (125 rows) — at scale a cross join
    //    is legal only when one side is a broadcast-able constant set ─────
    Q("q_cross_join",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin) {
      (s, d) =>
        region(s, d).select("r_name")
          .crossJoin(broadcast(nation(s, d).select("n_name")))
          .orderBy("r_name", "n_name")
    },

    // ── the spark.sql(...) surface: a TPC-H-Q3-shaped query submitted as
    //    SQL text over registered temp views — same Catalyst plan space as
    //    the DataFrame API (broadcast dims, partial aggs, pushdown), and
    //    the one declared query exercising the SQL parser entry point ─────
    Q("q_sql_revenue",
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        |GROUP BY o_orderkey
        |HAVING count(*) >= 4
        |ORDER BY o_orderkey""".stripMargin) {
      (s, d) =>
        customer(s, d).createOrReplaceTempView("customer")
        orders(s, d).createOrReplaceTempView("orders")
        lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql("""
          SELECT o_orderkey,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
            count(*) AS n_items
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
          GROUP BY o_orderkey
          HAVING count(*) >= 4
          ORDER BY o_orderkey""")
    },

    // ── range/interval join with an equi-prefix: each error event matched
    //    into its user's containing session interval. The user_id equi-key
    //    carries the join (hash/sort-merge on user_id; the range predicate
    //    filters within the key group) — the scale-safe form of a range
    //    join; a pure inequality join would be a nested-loop cross ────────
    Q("q_range_join",
      """WITH e0 AS (
        |  -- µs truncation to match Spark's timestamp precision (see
        |  -- q_session_window): gap arithmetic and the interval-containment
        |  -- predicates below must not see sub-µs components
        |  SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
        |x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |y AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x),
        |sess AS (
        |  SELECT user_id, min(ts) AS ss, max(ts) + INTERVAL 30 MINUTE AS se
        |  FROM y GROUP BY user_id, sid)
        |SELECT e.event_id, e.user_id,
        |  strftime(s.ss, '%Y-%m-%d %H:%M:%S.%f') AS session_start
        |FROM e0 e JOIN sess s
        |  ON e.user_id = s.user_id AND e.ts >= s.ss AND e.ts < s.se
        |WHERE e.event_type = 'error'
        |ORDER BY e.event_id, session_start""".stripMargin) {
      (s, d) =>
        val e = events(s, d)
        val sess = e.groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id").as("s_uid"), col("session_window.start").as("ss"),
            col("session_window.end").as("se"))
        e.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
          .join(sess,
            col("user_id") === col("s_uid") &&
              col("ts") >= col("ss") && col("ts") < col("se"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ss"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("session_start"))
          .orderBy("event_id", "session_start")
    },

    // ── parity: as-of join via union + last(ignoreNulls) over window ────
    // "latest view at-or-before each purchase, per user" — the scalable
    // single-shuffle encoding of the reference's latest-per-station lookup.
    // The window orders by epoch_us(ts) on both engines: DuckDB reads raw
    // TIMESTAMP_NS while Spark truncates to µs, so raw-ts ordering could
    // legitimately disagree below a microsecond.
    Q("q_asof",
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS m, event_id AS vid, NULL::BIGINT AS pid
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS m, NULL::BIGINT AS vid, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, ts, m, pid,
        |    last_value(vid IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY epoch_us(ts), m, coalesce(vid, pid)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_vid
        |  FROM u)
        |SELECT pid AS purchase_id, user_id, matched_vid, epoch_us(ts) AS ts_us
        |FROM w WHERE m = 1 ORDER BY purchase_id""".stripMargin) {
      (s, d) =>
        val e = events(s, d)
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), lit(0).as("m"),
            col("event_id").as("vid"), lit(null).cast("long").as("pid"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(1).as("m"),
            lit(null).cast("long").as("vid"), col("event_id").as("pid"))
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")), col("m"), coalesce(col("vid"), col("pid")))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        views.unionByName(purchases)
          .withColumn("matched_vid", last(col("vid"), ignoreNulls = true).over(w))
          .filter(col("m") === 1)
          .select(col("pid").as("purchase_id"), col("user_id"),
            col("matched_vid"), unix_micros(col("ts")).as("ts_us"))
          .orderBy("purchase_id")
    },

    // ── CDC upsert (MERGE INTO semantics, Spark-first): a change batch is
    //    applied to the current dimension with latest-wins column
    //    resolution — updates overwrite, inserts append, untouched rows
    //    survive. Base = customers outside the change channel at their
    //    "old" state; changes = the md5-hash channel (≈20%), some keys
    //    existing (update) and, via the base's narrower predicate, some
    //    new (insert). One key-partitioned full-outer join + coalesce per
    //    column — exactly how MERGE executes on a lake at scale (shuffle
    //    on the upsert key, no driver involvement), with the op tag
    //    (insert/update/keep) emitted for audit. ──────────────────────────
    Q("q_upsert",
      """WITH bk AS (SELECT c_custkey,
        |    ('0x' || substr(md5('up:' || c_custkey::VARCHAR), 1, 15))::BIGINT % 100
        |      AS ch FROM customer),
        |base AS (SELECT c.c_custkey, c.c_mktsegment,
        |           CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS acctbal
        |         FROM customer c JOIN bk USING (c_custkey) WHERE ch < 80),
        |chg AS (SELECT c.c_custkey, 'MIGRATED' AS c_mktsegment,
        |          CAST(CAST(c.c_acctbal + 100.0 AS DECIMAL(12,2)) AS VARCHAR)
        |            AS acctbal
        |        FROM customer c JOIN bk USING (c_custkey) WHERE ch >= 60)
        |SELECT coalesce(g.c_custkey, b.c_custkey) AS c_custkey,
        |  coalesce(g.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
        |  coalesce(g.acctbal, b.acctbal) AS acctbal,
        |  CASE WHEN b.c_custkey IS NULL THEN 'insert'
        |       WHEN g.c_custkey IS NULL THEN 'keep' ELSE 'update' END AS op
        |FROM base b FULL OUTER JOIN chg g ON g.c_custkey = b.c_custkey
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        val ch = md5Long(concat(lit("up:"), col("c_custkey").cast("string"))) % 100
        val cust = customer(s, d).withColumn("ch", ch)
        val base = cust.filter(col("ch") < 80)
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal").cast("decimal(12,2)").cast("string").as("acctbal"))
        val chg = cust.filter(col("ch") >= 60)
          .select(col("c_custkey"), lit("MIGRATED").as("c_mktsegment"),
            (col("c_acctbal") + 100.0).cast("decimal(12,2)").cast("string")
              .as("acctbal"))
        base.as("b").join(chg.as("g"),
            col("g.c_custkey") === col("b.c_custkey"), "full_outer")
          .select(
            coalesce(col("g.c_custkey"), col("b.c_custkey")).as("c_custkey"),
            coalesce(col("g.c_mktsegment"), col("b.c_mktsegment")).as("c_mktsegment"),
            coalesce(col("g.acctbal"), col("b.acctbal")).as("acctbal"),
            when(col("b.c_custkey").isNull, "insert")
              .when(col("g.c_custkey").isNull, "keep")
              .otherwise("update").as("op"))
          .orderBy("c_custkey")
    },

    // ── SCD-2 history build — q_upsert's companion: instead of
    //    latest-wins overwrite, every version is KEPT with a validity
    //    interval. Version 0 = the base state of all customers; version
    //    1 = the change batch (same md5 channel as q_upsert). One window
    //    per key (lead(ver) → ver_to, open intervals closed by sentinel
    //    999) — a single key-partitioned shuffle builds the full history,
    //    the standard warehouse dimension-versioning shape at any scale. ────
    Q("q_scd2",
      """WITH bk AS (SELECT c_custkey,
        |    ('0x' || substr(md5('up:' || c_custkey::VARCHAR), 1, 15))::BIGINT % 100
        |      AS ch FROM customer),
        |v0 AS (SELECT c_custkey, c_mktsegment,
        |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS acctbal,
        |         0 AS ver FROM customer),
        |v1 AS (SELECT c.c_custkey, 'MIGRATED' AS c_mktsegment,
        |         CAST(CAST(c.c_acctbal + 100.0 AS DECIMAL(12,2)) AS VARCHAR)
        |           AS acctbal, 1 AS ver
        |       FROM customer c JOIN bk USING (c_custkey) WHERE ch >= 60),
        |u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
        |SELECT c_custkey, c_mktsegment, acctbal,
        |  CAST(ver AS BIGINT) AS ver_from,
        |  CAST(coalesce(lead(ver) OVER (PARTITION BY c_custkey ORDER BY ver),
        |                999) AS BIGINT) AS ver_to,
        |  lead(ver) OVER (PARTITION BY c_custkey ORDER BY ver) IS NULL
        |    AS is_current
        |FROM u ORDER BY c_custkey, ver_from""".stripMargin) {
      (s, d) =>
        val cust = customer(s, d)
          .withColumn("ch",
            md5Long(concat(lit("up:"), col("c_custkey").cast("string"))) % 100)
        val v0 = cust.select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(12,2)").cast("string").as("acctbal"),
          lit(0).as("ver"))
        val v1 = cust.filter(col("ch") >= 60)
          .select(col("c_custkey"), lit("MIGRATED").as("c_mktsegment"),
            (col("c_acctbal") + 100.0).cast("decimal(12,2)").cast("string")
              .as("acctbal"), lit(1).as("ver"))
        val w = Window.partitionBy("c_custkey").orderBy("ver")
        v0.unionByName(v1)
          .withColumn("nxt", lead("ver", 1).over(w))
          .select(col("c_custkey"), col("c_mktsegment"), col("acctbal"),
            col("ver").cast("long").as("ver_from"),
            coalesce(col("nxt"), lit(999)).cast("long").as("ver_to"),
            col("nxt").isNull.as("is_current"))
          .orderBy("c_custkey", "ver_from")
    },

    // ── distributed triangle counting over an undirected graph — the
    //    classic multi-way self-join the dedup candidate graphs need for
    //    cluster-density diagnostics. Nodes are two independent md5
    //    channels of the order key (fully populated 60-node space at every
    //    SF), edges deduplicated as (a < b); triangles enumerate via two
    //    equi-joins with the a < b < c orientation so each triangle counts
    //    exactly once. Scale: edges partition by key; each join is an
    //    equi-join on a node column (never all-pairs), the standard
    //    edge-oriented enumeration that survives skew via the ordering. ────
    Q("q_triangles",
      """WITH r AS (SELECT
        |    ('0x' || substr(md5('ta:' || o_orderkey::VARCHAR), 1, 15))::BIGINT % 60 AS x,
        |    ('0x' || substr(md5('tb:' || o_orderkey::VARCHAR), 1, 15))::BIGINT % 60 AS y
        |  FROM orders),
        |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |      FROM r WHERE x <> y)
        |SELECT count(*) AS n_triangles,
        |  (SELECT count(*) FROM e) AS n_edges
        |FROM e e1
        |JOIN e e2 ON e2.a = e1.b
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin) {
      (s, d) =>
        val r = orders(s, d).select(
          (md5Long(concat(lit("ta:"), col("o_orderkey").cast("string"))) % 60).as("x"),
          (md5Long(concat(lit("tb:"), col("o_orderkey").cast("string"))) % 60).as("y"))
        val e = r.filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct()
          // ledger M50: q_triangles 1.7× slower without it
          .cache() // three self-join arms + the edge count read it
        val tri = e.as("e1")
          .join(e.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
          .join(e.select(col("a"), col("b").as("c")).as("e3"), Seq("a", "c"))
          .agg(count(lit(1)).as("n_triangles"))
        tri.crossJoin(e.agg(count(lit(1)).as("n_edges")))
    }
  )
}
