package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engagement/trending analytics over the events stream and the order
  * history — rolling distinct-user windows and exponential time-decay
  * scoring, the two aggregations every product dashboard runs at
  * scale.
  */
object Trend {

  /** Rolling window width for WAU (days, inclusive of the day). */
  val WauDays = 7

  /** q128: DAU / WAU / stickiness per day. COUNT(DISTINCT) over a
    * RANGE window doesn't exist in any engine, so WAU uses the
    * expand-by-window trick: each (user, active_day) pair emits the
    * [[WauDays]] days it keeps the user "weekly active", distinct
    * per (user, covered_day), then a plain count per day — shuffle
    * volume is active-pairs × 7, linear, and every aggregate is
    * partial-agg friendly (no per-day user sets ever materialize on
    * one node, which is how the naive self-join version dies at
    * 100 TB).
    *
    * Report is cut to days with actual activity (the synthetic span's
    * interior), stickiness = dau/wau rounded 6. */
  def dauWau(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
      .pin() // feeds DAU and the 7-day expansion
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(WauDays - 1)))
        .as("k"), col("day"))
      .select(col("user_id"),
        date_format(date_add(to_date(col("day")), col("k")), "yyyy-MM-dd")
          .as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  val dauWauSql: String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
      |  FROM events),
      |dau AS (
      |  SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
      |cover AS (
      |  SELECT DISTINCT user_id,
      |    strftime(CAST(day AS DATE) + k * INTERVAL 1 DAY, '%Y-%m-%d') AS day
      |  FROM ud CROSS JOIN LATERAL
      |    unnest(generate_series(0, ${WauDays - 1})) AS t(k)),
      |wau AS (
      |  SELECT day, COUNT(*) AS wau FROM cover GROUP BY day)
      |SELECT dau.day, dau, wau,
      |  ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY dau.day""".stripMargin

  /** Exponential-decay half-life (days) for trending scores. */
  val HalfLifeDays = 7.0

  /** q129: time-decayed trending parts — each lineitem shipment
    * contributes exp(−ln2·age/[[HalfLifeDays]]) toward its part,
    * anchored at the corpus max ship date; top-10 parts. The decayed
    * leaderboard every "trending now" surface runs; the decay means
    * old volume can never drown a recent spike.
    *
    * Shape: the anchor is a 1-row aggregate broadcast back, ages are
    * exact integer day differences, each term rounds to 9 before a
    * DECIMAL partial-agg sum — one shuffle on p_partkey, then a
    * top-10 TakeOrderedAndProject. */
  def trending(spark: SparkSession, sfDir: String): DataFrame = {
    val lambda = math.log(2.0) / HalfLifeDays
    val anchor = Tables.lineitem(spark, sfDir)
      .agg(max(to_date(col("l_shipdate"))).as("maxd"))
    Tables.lineitem(spark, sfDir)
      .crossJoin(broadcast(anchor))
      .select(col("l_partkey"),
        datediff(col("maxd"), to_date(col("l_shipdate"))).as("age"))
      .withColumn("w", round(exp(lit(-lambda) * col("age")), 9))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_ships"),
        round(sum(col("w").cast("decimal(28,12)")).cast("double"), 6)
          .as("trend_score"))
      .orderBy(col("trend_score").desc, col("l_partkey"))
      .limit(10)
  }

  val trendingSql: String = {
    val lambda = math.log(2.0) / HalfLifeDays
    s"""WITH anchor AS (
      |  SELECT MAX(CAST(l_shipdate AS DATE)) AS maxd FROM lineitem),
      |terms AS (
      |  SELECT l_partkey,
      |    ROUND(EXP(-$lambda * date_diff('day',
      |      CAST(l_shipdate AS DATE), maxd)), 9) AS w
      |  FROM lineitem CROSS JOIN anchor)
      |SELECT l_partkey, COUNT(*) AS n_ships,
      |  ROUND(CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE), 6)
      |    AS trend_score
      |FROM terms GROUP BY l_partkey
      |ORDER BY trend_score DESC, l_partkey LIMIT 10""".stripMargin
  }
}
