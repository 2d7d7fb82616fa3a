package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-behavior analytics over the events stream — the ordered
  * funnel and cohort-retention workloads every large-scale product
  * analytics deployment runs (the reference's dashboard counts are
  * the degenerate unordered case of these).
  *
  * Timestamp discipline: the events table stores nanosecond
  * timestamps; Spark's reader floors them to microseconds, so every
  * cross-engine time comparison here happens on EPOCH-MICROS in both
  * engines (`unix_micros` / `epoch_us`) — comparing raw timestamps
  * would let a sub-microsecond gap flip a strict inequality in DuckDB
  * only.
  */
object Behavior {

  /** q107: ordered conversion funnel view → click → purchase. Each
    * stage's timestamp must be STRICTLY after the previous stage's
    * first hit (the sequential-funnel semantics; an unordered count
    * would overstate conversion). Three chained per-user aggregates,
    * each a partial-agg shuffle on user_id — the same key every
    * round, so at 100 TB the exchanges reuse one partitioning; no
    * self-join carries event payloads. */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .pin() // feeds three stage aggregates
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    // merge hints on the checkpoint-fed stage joins: the events
    // checkpoint's inherited stats under-report it, so the static
    // planner broadcast the event side and AQE cannot demote a
    // checkpoint-fed broadcast (PERF.md r11 checkpoint-broadcast
    // audit); the funnel's whole design is user_id-keyed shuffles
    val t2 = e.filter(col("event_type") === "click").hint("merge")
      .join(t1, Seq("user_id"))
      .filter(col("us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").hint("merge")
      .join(t2, Seq("user_id"))
      .filter(col("us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    val users = e.select(col("user_id")).distinct()
    users.agg(count(lit(1)).as("n_users"))
      .crossJoin(t1.agg(count(lit(1)).as("n_view")))
      .crossJoin(t2.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(t3.agg(count(lit(1)).as("n_purchase_after_click")))
      .select(col("n_users"), col("n_view"), col("n_click_after_view"),
        col("n_purchase_after_click"),
        round(col("n_view").cast("double") / col("n_users"), 6)
          .as("view_rate"),
        round(col("n_click_after_view").cast("double") / col("n_view"), 6)
          .as("click_conv"),
        round(col("n_purchase_after_click").cast("double")
          / col("n_click_after_view"), 6).as("purchase_conv"))
  }

  val eventFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |t1 AS (
      |  SELECT user_id, MIN(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, MIN(us) AS t3 FROM e JOIN t2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT
      |  (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
      |  (SELECT COUNT(*) FROM t1) AS n_view,
      |  (SELECT COUNT(*) FROM t2) AS n_click_after_view,
      |  (SELECT COUNT(*) FROM t3) AS n_purchase_after_click,
      |  ROUND(CAST((SELECT COUNT(*) FROM t1) AS DOUBLE)
      |    / (SELECT COUNT(DISTINCT user_id) FROM e), 6) AS view_rate,
      |  ROUND(CAST((SELECT COUNT(*) FROM t2) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM t1), 6) AS click_conv,
      |  ROUND(CAST((SELECT COUNT(*) FROM t3) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM t2), 6) AS purchase_conv""".stripMargin

  /** Retention horizon in days. */
  val RetentionDays = 7

  /** q108: cohort retention — users grouped by first-seen day, the
    * fraction active k days later for k in 0..6. Two shuffles (user
    * cohorting, then the (cohort, k) rollup); distinct-user counting
    * is per (cohort, k) with partial aggregation. Day arithmetic on
    * DATE values only — no timestamp precision in the output. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .pin() // feeds cohorting + activity join
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
    val sizes = cohorts.groupBy(col("c_day"))
      .agg(count(lit(1)).as("cohort_n"))
    e.join(cohorts, Seq("user_id"))
      .withColumn("k", datediff(col("day"), col("c_day")))
      .filter(col("k") >= 0 && col("k") < RetentionDays)
      .groupBy(col("c_day"), col("k"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, Seq("c_day"))
      .select(date_format(col("c_day"), "yyyy-MM-dd").as("cohort_day"),
        col("k").cast("long").as("k"), col("cohort_n"), col("n_active"),
        round(col("n_active").cast("double") / col("cohort_n"), 6)
          .as("retention"))
      .orderBy(col("cohort_day"), col("k"))
  }

  /** q109: co-purchase pair mining (the A-Priori 2-itemset pass) —
    * top part pairs by basket co-occurrence, with lift against
    * independence. The pair expansion is basket-local (a self-join on
    * the order key; baskets are bounded, so the quadratic is per
    * basket, never global) and the counts are partial-agg shuffles on
    * the pair key — the exact candidate-counting shape a 100 TB
    * frequent-itemset pass uses. Lift = P(ab)/(P(a)·P(b)) with all
    * probabilities over basket counts (exact integers; the only
    * division is in the final projection). */
  def copurchasePairs(spark: SparkSession, sfDir: String): DataFrame = {
    // distinct (basket, item): a part twice in one order counts once;
    // feeds the pair join twice and the per-part marginals
    val items = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .pin()
    val nBaskets = items.agg(countDistinct(col("okey")).as("n_baskets"))
    val marg = items.groupBy(col("part")).agg(count(lit(1)).as("n_part"))
    val a = items.select(col("okey"), col("part").as("pa"))
    val b = items.select(col("okey"), col("part").as("pb"))
    // merge: both sides are the basket checkpoint (stats-blind, the
    // static planner broadcast one side; PERF.md r11 audit)
    a.join(b.hint("merge"), Seq("okey"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .join(marg.select(col("part").as("pa"), col("n_part").as("n_a")), Seq("pa"))
      .join(marg.select(col("part").as("pb"), col("n_part").as("n_b")), Seq("pb"))
      .crossJoin(broadcast(nBaskets))
      .select(col("pa"), col("pb"), col("n_ab"),
        round(col("n_ab").cast("double") * col("n_baskets")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
      .orderBy(col("n_ab").desc, col("pa"), col("pb"))
      .limit(10)
  }

  val copurchasePairsSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
      |  FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT okey) AS n_baskets FROM items),
      |marg AS (SELECT part, COUNT(*) AS n_part FROM items GROUP BY part),
      |pairs AS (
      |  SELECT a.part AS pa, b.part AS pb, COUNT(*) AS n_ab
      |  FROM items a JOIN items b
      |    ON a.okey = b.okey AND a.part < b.part
      |  GROUP BY a.part, b.part)
      |SELECT p.pa, p.pb, p.n_ab,
      |  ROUND(CAST(p.n_ab AS DOUBLE) * n.n_baskets
      |    / CAST(ma.n_part * mb.n_part AS DOUBLE), 6) AS lift
      |FROM pairs p
      |JOIN marg ma ON ma.part = p.pa
      |JOIN marg mb ON mb.part = p.pb
      |CROSS JOIN n
      |ORDER BY n_ab DESC, pa, pb
      |LIMIT 10""".stripMargin

  val cohortRetentionSql: String =
    s"""WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS c_day FROM e GROUP BY user_id),
      |sizes AS (
      |  SELECT c_day, COUNT(*) AS cohort_n FROM cohorts GROUP BY c_day),
      |act AS (
      |  SELECT c.c_day, date_diff('day', c.c_day, e.day) AS k,
      |    COUNT(DISTINCT e.user_id) AS n_active
      |  FROM e JOIN cohorts c USING (user_id)
      |  WHERE date_diff('day', c.c_day, e.day) >= 0
      |    AND date_diff('day', c.c_day, e.day) < $RetentionDays
      |  GROUP BY c.c_day, date_diff('day', c.c_day, e.day))
      |SELECT strftime(a.c_day, '%Y-%m-%d') AS cohort_day,
      |  CAST(a.k AS BIGINT) AS k, s.cohort_n, a.n_active,
      |  ROUND(CAST(a.n_active AS DOUBLE) / s.cohort_n, 6) AS retention
      |FROM act a JOIN sizes s USING (c_day)
      |ORDER BY cohort_day, k""".stripMargin

  // ---- q126: last-touch attribution --------------------------------

  /** Attribution lookback window: a purchase credits the user's most
    * recent view only if it happened within this many seconds. */
  val AttribWindowSec = 3600L

  /** q126: last-touch attribution — each purchase credits the same
    * user's most recent view at-or-before it (inclusive), but only
    * within a [[AttribWindowSec]] lookback; otherwise it counts as
    * direct. Daily report of attributed vs direct purchase counts and
    * value — the ad-tech revenue-attribution join.
    *
    * Shape: the classic as-of problem solved WITHOUT a range join: a
    * single per-user window pass carries the running max view-time
    * (views ordered before purchases at equal timestamps, so
    * "inclusive" is exact), then one partial-agg daily rollup.
    * Shuffle count: one exchange on user_id + one on day — at 100 TB
    * the window never materializes candidate pairs the way an
    * interval join would. */
  def lastTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        when(col("event_type") === "view", 0).otherwise(1).as("ord"))
    // views sort before purchases at the same microsecond → the
    // running max over preceding rows includes ties (inclusive as-of)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("ord"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = e
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        col("last_view_us").isNotNull &&
          (col("us") - col("last_view_us"))
            <= lit(AttribWindowSec * 1000000L))
    attributed.groupBy(col("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
        round(sum(when(col("attributed"),
          col("value").cast("decimal(28,6)")).otherwise(lit(0).cast("decimal(28,6)")))
          .cast("double"), 4).as("attributed_value"),
        round(sum(when(!col("attributed"),
          col("value").cast("decimal(28,6)")).otherwise(lit(0).cast("decimal(28,6)")))
          .cast("double"), 4).as("direct_value"))
      .orderBy(col("day"))
  }

  val lastTouchAttributionSql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
      |    strftime(ts, '%Y-%m-%d') AS day,
      |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS ord
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |marked AS (
      |  SELECT *,
      |    MAX(CASE WHEN event_type = 'view' THEN us END) OVER
      |      (PARTITION BY user_id ORDER BY us, ord, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_view_us
      |  FROM e),
      |purch AS (
      |  SELECT day, value,
      |    last_view_us IS NOT NULL
      |      AND us - last_view_us <= ${AttribWindowSec * 1000000L}
      |      AS attributed
      |  FROM marked WHERE event_type = 'purchase')
      |SELECT day, COUNT(*) AS n_purchases,
      |  CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
      |  ROUND(CAST(SUM(CASE WHEN attributed
      |    THEN CAST(value AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END)
      |    AS DOUBLE), 4) AS attributed_value,
      |  ROUND(CAST(SUM(CASE WHEN NOT attributed
      |    THEN CAST(value AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END)
      |    AS DOUBLE), 4) AS direct_value
      |FROM purch GROUP BY day ORDER BY day""".stripMargin
}
