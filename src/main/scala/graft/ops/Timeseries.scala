package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar gap-fill with last-observation-carried-forward — the
  * resampling step every metrics/feature pipeline needs before
  * training on regularly-gridded series (a per-user daily activity
  * matrix with no missing rows).
  *
  * Shape: per-key daily aggregate → per-key [min, max] date spine
  * generated DISTRIBUTEDLY (`sequence` + `explode`, one row group per
  * key — no driver-side calendar, no cross join against a global date
  * dimension) → left join back → `last(ignoreNulls)` running window
  * for the carry-forward.
  *
  * Scale: the spine is keys × days — for 1e9 users × 1 year that is
  * the output's own cardinality, generated in place and partitioned
  * by the same key as the join that consumes it. The LOCF window
  * partitions by key and orders by day, so state per partition is one
  * value; no global sort anywhere. Daily sums accumulate in DECIMAL
  * (exact, order-independent) before the final round.
  */
object Timeseries {

  /** q98: per-user daily value series over `events`, gap-filled with
    * LOCF; `observed` marks real rows vs carried-forward ones. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    // daily feeds both the bounds aggregate and the spine join —
    // materialize once (pin: the returned plan stays lazy)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value").cast("decimal(28,10)")).cast("double"), 2)
        .as("v"))
      .pin()
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val locf = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // merge: the daily checkpoint is (user x day)-proportional and
    // was statically broadcast off its stats-blind estimate (PERF r11)
    spine.join(daily.hint("merge"), Seq("user_id", "day"), "left")
      .withColumn("observed", col("v").isNotNull)
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(locf))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("v_filled"), col("observed"))
      .orderBy(col("user_id"), col("day"))
  }

  val gapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 2) AS v
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY user_id),
      |spine AS (
      |  SELECT user_id, CAST(unnest(generate_series(
      |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds)
      |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
      |  LAST_VALUE(d.v IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
      |  d.v IS NOT NULL AS observed
      |FROM spine s LEFT JOIN daily d USING (user_id, day)
      |ORDER BY user_id, day""".stripMargin

  // ---- q123: SCD Type-2 interval build -----------------------------

  /** q123: slowly-changing-dimension (Type 2) history from a change
    * log — collapse each user's event-type stream into validity
    * intervals [valid_from, valid_to) with an is_current flag, the
    * lakehouse dimension-build every warehouse runs on CDC feeds
    * (Kimball SCD2; MERGE INTO ... WHEN MATCHED in Delta/Iceberg
    * terms).
    *
    * Shape: two windows over the SAME (user_id, time) partitioning —
    * change detection (lag) then interval close (lead) — so the rows
    * shuffle once and both windows run in one sort per partition.
    * Epoch-micros discipline throughout (the Behavior lesson: nanos
    * floor to micros in Spark's reader). The user_id < 10 cut rides
    * the scan — partition-pruned at a real deployment's source. */
  def scd2Build(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val e = Tables.events(spark, sfDir)
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val changes = e
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val wc = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    changes
      .withColumn("valid_to", lead(col("us"), 1).over(wc))
      .select(col("user_id"), col("event_type"),
        col("us").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  val scd2BuildSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events WHERE user_id < 10),
      |marked AS (
      |  SELECT user_id, event_id, event_type, us,
      |    LAG(event_type) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id) AS prev
      |  FROM e),
      |changes AS (
      |  SELECT user_id, event_type, us,
      |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS valid_to
      |  FROM marked
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, us AS valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM changes
      |ORDER BY user_id, valid_from""".stripMargin
}
