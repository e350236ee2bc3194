package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Dev utility (not part of the library surface): MEASURE the salted join
  * against the plain equi-join on data that actually has a hot key
  * (VERDICT r12 ask #4 — AqeSkewJoinSpec pins salting CORRECTNESS, but no
  * artifact showed the salted plan beating the unsalted one on skewed
  * input). Runs the q_salted_join shape (lineitem ⋈ supplier on l_suppkey,
  * group by s_nationkey) both ways over a DataVariant `skew` directory
  * (40% of lineitems redirected to supplier 0), verifies the two results
  * are row-identical, and records min-of-Reps interleaved times.
  *
  * Usage: sbt 'runMain graft.SkewCheck [skewDir] [warmDir]'
  * Default: tmp/sfskew10 (DataVariant skew of tmp/sf1) warmed at
  * tmp/sfskew0.001. Writes tools/skewcheck.json.
  *
  * Both variants run under the SAME session configs as Bench (AQE on, so
  * the unsalted side gets Spark's own skew mitigation where it applies —
  * AQE skew-join only splits SORT-MERGE partitions, and `saltedJoin`
  * exists for the hot-single-key case it doesn't cover).
  */
object SkewCheck {
  def main(args: Array[String]): Unit = {
    val dir  = args.lift(0).getOrElse("tmp/sfskew10")
    val warm = args.lift(1).getOrElse("tmp/sfskew0.001")
    val spark = Session()
    // the point is the SHUFFLE-join skew story: keep the small dim from
    // broadcasting (a broadcast join has no skewed reducer to salt)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def lineitem(d: String) =
      Tables.lineitem(spark, d).select("l_suppkey", "l_quantity")
    def supplier(d: String) =
      Tables.supplier(spark, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    def aggPart(j: DataFrame): DataFrame =
      j.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("s_nationkey")
    def plain(d: String): DataFrame =
      aggPart(lineitem(d).join(supplier(d), Seq("l_suppkey")))
    def salted(d: String): DataFrame =
      aggPart(graft.ops.Skew.saltedJoin(lineitem(d), supplier(d),
        Seq("l_suppkey")))

    val hotShare = {
      val li = lineitem(dir)
      val total = li.count().toDouble
      val hot = li.filter(col("l_suppkey") === 0L).count()
      hot / total
    }

    def once(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      Session.release(spark)
      t
    }
    // warm both shapes (codegen/classload) at the small skew dir
    Seq(() => plain(warm), () => salted(warm)).foreach(f => once(f()))

    val Reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val ts = scala.collection.mutable.Map(
      "plain" -> scala.collection.mutable.ListBuffer[Double](),
      "salted" -> scala.collection.mutable.ListBuffer[Double]())
    for (rep <- 1 to Reps) {
      ts("plain") += once(plain(dir))
      ts("salted") += once(salted(dir))
      System.err.println(f"[skewcheck] rep $rep: plain=${ts("plain").last}%.2fs " +
        f"salted=${ts("salted").last}%.2fs")
    }

    // row-identity: the result is ≤ |nations| rows — collect both, compare
    val a = plain(dir).collect().map(_.toString).toSeq
    val b = salted(dir).collect().map(_.toString).toSeq
    val equal = a == b
    def f(d: Double) = f"$d%.3f"
    def spread(l: Seq[Double]) =
      if (l.min > 0) (l.max - l.min) / l.min else 0.0
    val record =
      s"""{"dir":"$dir","hot_key_share":${f(hotShare)},""" +
        s""""reps":$Reps,"rows":${a.length},"results_equal":$equal,""" +
        s""""plain_sec":${f(ts("plain").min)},""" +
        s""""plain_spread":${f(spread(ts("plain").toSeq))},""" +
        s""""salted_sec":${f(ts("salted").min)},""" +
        s""""salted_spread":${f(spread(ts("salted").toSeq))},""" +
        s""""salted_over_plain":${f(ts("salted").min / ts("plain").min)}}"""
    ToolPaths.publish("skewcheck", "tools/skewcheck.json", record)
    spark.stop()
  }
}
