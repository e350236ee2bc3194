package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables._

/** The flagship pipeline's full compose, re-shaped onto testdata and put
  * under the DuckDB hash gate as ONE declared plan. The per-stage operators
  * are each oracle-proven in isolation elsewhere; this query proves the
  * UNBROKEN chain the reference runs per city (`main.py:103-279`):
  *
  *   filter (F5 membership + F6 id validity + F7 numeric validity)
  *   → coverage rank (A1 count + O2 top-K order)
  *   → candidate cap (O3, MAX_CANDIDATES analog)
  *   → greedy early-terminated prefix (O4 window encoding)
  *   → semi-join emitted rows back (J1)
  *   → dim enrichment (J2, broadcast)
  *   → fixed projection + timestamp format (P7/P8)
  *
  * Analog mapping: city → `user_id % 5`, station → `user_id`, parameter →
  * `event_type`, measurement validity → non-NaN non-null `value`. Scale: the
  * chain is the same one the per-stage queries prove — one distinct-pairs
  * shuffle feeding three windows, broadcast stop/dim joins, and a final
  * per-(candidate,parameter) aggregation; nothing widens with N beyond the
  * events scan.
  */
object FlagshipAnalog {

  private val Targets = Seq("click", "view", "purchase", "signup")
  private val MaxCandidates = 8 // MAX_CANDIDATES=40 analog, scaled to grp size

  val all: Seq[Q] = Seq(
    Q("q_flagship_analog",
      s"""WITH base AS (
         |  SELECT user_id % 5 AS grp, user_id, event_type, value, ts
         |  FROM events
         |  WHERE event_type IN ('click','view','purchase','signup')
         |    AND user_id IS NOT NULL AND user_id <> 0
         |    AND value IS NOT NULL AND NOT isnan(value)),
         |pairs AS (SELECT DISTINCT grp, user_id, event_type FROM base),
         |cand AS (SELECT grp, user_id, count(*) AS m FROM pairs
         |         GROUP BY grp, user_id),
         |ranked AS (
         |  SELECT grp, user_id, m,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY m DESC, user_id)
         |      AS BIGINT) AS rank
         |  FROM cand
         |  QUALIFY rank <= $MaxCandidates),
         |firsts AS (
         |  SELECT p.grp, p.user_id, p.event_type, r.rank,
         |    CASE WHEN row_number() OVER (PARTITION BY p.grp, p.event_type
         |                                 ORDER BY r.rank) = 1 THEN 1 ELSE 0 END AS is_first
         |  FROM pairs p JOIN ranked r ON p.grp = r.grp AND p.user_id = r.user_id),
         |percand AS (
         |  SELECT grp, user_id, rank, SUM(is_first) AS new_types
         |  FROM firsts GROUP BY grp, user_id, rank),
         |cum AS (
         |  SELECT grp, user_id, rank,
         |    SUM(new_types) OVER (PARTITION BY grp ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cov
         |  FROM percand),
         |stop AS (
         |  SELECT grp, min(rank) AS stop_rank FROM cum
         |  WHERE cum_cov >= ${Targets.size} AND rank >= 3 GROUP BY grp),
         |sel AS (
         |  SELECT c.grp, c.user_id, c.rank FROM cum c
         |  LEFT JOIN stop s ON c.grp = s.grp
         |  WHERE c.rank <= coalesce(s.stop_rank, 9223372036854775807))
         |SELECT b.grp, sel.rank, b.user_id, c.c_mktsegment AS segment,
         |  b.event_type AS parameter, count(*) AS n,
         |  strftime(make_timestamp(max(epoch_us(b.ts))), '%Y-%m-%dT%H:%M:%SZ')
         |    AS last_seen
         |FROM base b
         |JOIN sel ON b.grp = sel.grp AND b.user_id = sel.user_id
         |JOIN customer c ON c.c_custkey = b.user_id
         |GROUP BY b.grp, sel.rank, b.user_id, c.c_mktsegment, b.event_type
         |ORDER BY b.grp, sel.rank, b.user_id, parameter""".stripMargin) {
      (s, d) =>
        val base = events(s, d)
          .filter(col("event_type").isin(Targets.map(x => x: Any): _*) &&
            col("user_id").isNotNull && col("user_id") =!= 0 &&
            col("value").isNotNull && !isnan(col("value")))
          .select((col("user_id") % 5).as("grp"),
            col("user_id"), col("event_type"), col("ts"))

        val pairs = base.select("grp", "user_id", "event_type").distinct()
        val ranked = pairs.groupBy("grp", "user_id")
          .agg(count(lit(1)).as("m"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("grp").orderBy(col("m").desc, col("user_id")))
            .cast("long"))
          .filter(col("rank") <= MaxCandidates)

        val firsts = pairs
          .join(ranked.select("grp", "user_id", "rank"), Seq("grp", "user_id"))
          .withColumn("is_first",
            when(row_number().over(Window.partitionBy("grp", "event_type")
              .orderBy("rank")) === 1, 1).otherwise(0))
        val cum = firsts.groupBy("grp", "user_id", "rank")
          .agg(sum("is_first").as("new_types"))
          .withColumn("cum_cov",
            sum("new_types").over(Window.partitionBy("grp").orderBy("rank")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val stop = cum
          .filter(col("cum_cov") >= Targets.distinct.size && col("rank") >= 3)
          .groupBy("grp").agg(min("rank").as("stop_rank"))
        val sel = cum.join(broadcast(stop), Seq("grp"), "left")
          .filter(col("rank") <= coalesce(col("stop_rank"), lit(Long.MaxValue)))
          .select("grp", "user_id", "rank")

        // selected prefix is ≤ MaxCandidates rows/grp — broadcast it into the
        // emit join. The customer dim carries NO hint: unlike the reference's
        // constant-size cities dim, customer grows with the corpus, so AQE
        // picks broadcast-vs-shuffle from runtime stats (small SFs broadcast,
        // a 100 TB customer table shuffle-joins instead of OOMing the driver)
        base.join(broadcast(sel), Seq("grp", "user_id"))
          .join(customer(s, d)
            .select(col("c_custkey").as("user_id"),
              col("c_mktsegment").as("segment")), Seq("user_id"))
          .withColumnRenamed("event_type", "parameter")
          .groupBy("grp", "rank", "user_id", "segment", "parameter")
          .agg(count(lit(1)).as("n"),
            date_format(timestamp_micros(max(unix_micros(col("ts")))),
              "yyyy-MM-dd'T'HH:mm:ss'Z'").as("last_seen"))
          .select("grp", "rank", "user_id", "segment", "parameter", "n", "last_seen")
          .orderBy("grp", "rank", "user_id", "parameter")
    }
  )
}
