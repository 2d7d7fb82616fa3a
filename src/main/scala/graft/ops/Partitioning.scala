package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned layouts + partition pruning — the FIRST
  * scan lever at 100 TB: a date-partitioned fact table turns a
  * time-sliced query from "read everything, filter later" into "never
  * open 29/30 of the files". [[Bucketing]] (q153) covers the JOIN
  * lever (co-located buckets delete the exchange); this covers the
  * SCAN lever, in both forms:
  *
  *   - q164 STATIC pruning: a literal day-range predicate is resolved
  *     against the partition directory values at PLANNING time — the
  *     scan node lists only the matching directories
  *     (`PartitionFilters` in the plan, `inputFiles` shrinks).
  *   - q165 DYNAMIC partition pruning (DPP): the day set is only
  *     known at RUNTIME (it comes out of an aggregation over another
  *     relation). Spark's DPP reuses the dim side's broadcast to
  *     inject a `dynamicpruningexpression` into the fact scan, so
  *     the fact still never opens non-qualifying partitions — the
  *     join-shaped analogue of static pruning, and the feature that
  *     makes star-schema queries over date-partitioned 100 TB facts
  *     affordable.
  *
  * Both queries HARD-ASSERT their pruning in the plan (the q153
  * pattern: the scale property is part of the query's contract, not
  * just a spec), and both report a rollup the DuckDB oracle recomputes
  * from the plain table — the layout changes the PLAN, never the
  * answer.
  */
object Partitioning {

  /** Fixed idempotent layout path (same rationale as
    * [[Bucketing.writeBucketed]]: fresh temp dirs would leak a copy
    * of the table per invocation). */
  private def layoutBase(sfDir: String): String =
    graft.Scratch.dir("partitioned_layout", sfDir)

  /** Day-partitioned events layout: one directory per day, one file
    * per day (the pre-write `repartition(day)` hash-routes each day
    * to exactly one task — without it every task writes every day it
    * happens to hold and the layout degrades to days × tasks small
    * files, the classic partitioned-write mistake at scale). */
  def writePartitioned(spark: SparkSession, sfDir: String,
      base: String = ""): String = {
    val root = if (base.isEmpty) layoutBase(sfDir) else base
    val path = s"$root/events_by_day"
    Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("day"))
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(path)
    path
  }

  /** Inclusive literal day range for q164 — a 10-of-30-days slice of
    * the events span (TESTDATA contract: 2024-01-01..30 at every SF). */
  val PruneLo = "2024-01-10"
  val PruneHi = "2024-01-19"

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value").cast("decimal(28,10)")).cast("double"), 2)
          .as("sum_value"))
      .orderBy(col("event_type"))

  /** q164: write the day-partitioned layout, run a day-sliced rollup
    * off it, and hard-assert the scan pruned at planning time: the
    * day predicates appear as PartitionFilters (not data filters) and
    * at most 10/30 of the layout's files are opened. */
  def prunedRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = writePartitioned(spark, sfDir)
    val layout = spark.read.parquet(path)
    val pruned = layout
      .filter(col("day") >= PruneLo && col("day") <= PruneHi)
    val plan = pruned.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters") &&
      plan.contains(PruneLo) && plan.contains(PruneHi),
      s"day range not resolved as partition filters:\n$plan")
    // inputFiles lists the whole FileIndex regardless of pruning, so
    // count what the pruned scan actually READS: distinct
    // input_file_name() can only surface files the scan opened
    val total = layout.inputFiles.length
    val opened = pruned.select(input_file_name()).distinct().count()
    require(opened * 3 <= total,
      s"pruning opened $opened of $total files — partition elimination failed")
    rollup(pruned)
  }

  val prunedRollupSql: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 2)
      |    AS sum_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '$PruneLo' AND '$PruneHi'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A hot day carries strictly more than [[HotFactor]]× the mean
    * daily purchase count — a runtime-only day set (you cannot know
    * it at planning time), which is exactly what DPP exists for. */
  val HotFactor = 1.05

  /** The hot-day dim: day-level purchase counts from the PLAIN events
    * table, kept above the threshold. Small (≤ 30 rows) ⇒ broadcast. */
  private def hotDays(spark: SparkSession, sfDir: String): DataFrame = {
    val perDay = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("purchases"))
    val mean = perDay.agg(avg(col("purchases")).as("mean_purchases"))
    perDay.join(broadcast(mean))
      .filter(col("purchases") > col("mean_purchases") * lit(HotFactor))
      .select(col("day"))
  }

  /** q165: rollup of ALL event types on the hot purchase days, fact
    * side read from the day-partitioned layout. Hard-asserts the fact
    * scan carries a dynamicpruning PartitionFilter — at 100 TB this
    * is the difference between scanning the qualifying days and
    * scanning the whole fact table to join 30 dim rows. */
  def dppRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = writePartitioned(spark, sfDir)
    val fact = spark.read.parquet(path)
    val joined = fact.join(hotDays(spark, sfDir), Seq("day"))
    val plan = joined.queryExecution.executedPlan.toString
    require(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan carries no dynamic partition pruning filter:\n$plan")
    rollup(joined)
  }

  /** q168: metadata-only aggregation — per-day COUNT/MIN/MAX answered
    * from parquet FOOTER STATISTICS via DSv2 aggregate pushdown, the
    * third scan lever (q164 prunes directories, q165 prunes them at
    * runtime; this one never reads the DATA pages at all). At 100 TB
    * the difference is a full-table scan versus one footer per file:
    * row-group stats already hold exact COUNT/MIN/MAX, and Spark's
    * vectorized reader re-aggregates one stats-row per row group.
    *
    * The pushdown has strict preconditions (DSv2 parquet scan,
    * group-by columns ⊆ partition columns, no data filters, MIN/MAX
    * on stats-typed columns) — exactly why the layout groups by the
    * partition column `day`. The query HARD-ASSERTS
    * `PushedAggregation` in the executed scan; the eager
    * pin materializes under the scoped DSv2 confs (the
    * q153 pattern), so the asserted plan IS the one that produced
    * the answer and the session confs are restored afterwards. */
  def footerRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = writePartitioned(spark, sfDir)
    GraftSession.withConfs(spark, Seq(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true",
      // day was WRITTEN as a yyyy-MM-dd string; without this the read
      // back-infers the partition directory as DATE and the result
      // dtype drifts from the oracle's VARCHAR (r13 strict-gate audit)
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")) {
      // `+ 0.0` after the pushed aggregates: parquet writers record a
      // zero min/max stat as -0.0/+0.0 conservatively (sign-safety in
      // the format spec), so a footer-stats MIN can return -0.0 where
      // the data holds +0.0 — value-correct, wrong ZERO SIGN for the
      // bit-level gate (caught by the r14 hardened sf0.1 sweep; DuckDB
      // aggregates the data itself and emits +0.0). The projection
      // sits above the agg, so the pushdown is untouched.
      val agg = spark.read.parquet(path)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"))
        .select(col("day"), col("n_events"),
          (col("v_min") + lit(0.0)).as("v_min"),
          (col("v_max") + lit(0.0)).as("v_max"))
        .orderBy(col("day"))
      val out = agg.pin() // executes under the scoped confs
      val plan = agg.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT(*)")
        && plan.contains("MIN(value)") && plan.contains("MAX(value)"),
        s"aggregates not answered from footer statistics:\n$plan")
      out
    }
  }

  /** Footer stats are exact (up to the zero SIGN — see the `+ 0.0`
    * note above), so the oracle is the plain aggregation with the
    * same sign normalization. */
  val footerRollupSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events,
      |  MIN(value) + 0.0 AS v_min, MAX(value) + 0.0 AS v_max
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  val dppRollupSql: String =
    s"""WITH per_day AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |hot AS (
      |  SELECT day FROM per_day
      |  WHERE purchases > (SELECT AVG(purchases) FROM per_day) * $HotFactor)
      |SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 2)
      |    AS sum_value
      |FROM events WHERE strftime(ts, '%Y-%m-%d') IN (SELECT day FROM hot)
      |GROUP BY event_type ORDER BY event_type""".stripMargin
}
