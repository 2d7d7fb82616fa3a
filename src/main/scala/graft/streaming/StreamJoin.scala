package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join: impressions joined to the clicks that
  * follow them within an attribution window — the canonical
  * two-unbounded-sides join. Both sides carry watermarks so the join
  * state is bounded: Spark keeps only rows inside the watermark +
  * interval bound, then drops them — the property that lets this run
  * forever at production rates.
  */
object StreamJoin {

  /** impressions(ad_id, imp_ts) ⋈ clicks(ad_id, click_ts) with
    * click within [imp_ts, imp_ts + windowMinutes]. `joinType`
    * "left_outer" adds the null-padded no-click rows, emitted only
    * once the watermark proves no match can still arrive. */
  def attribution(impressions: DataFrame, clicks: DataFrame,
      windowMinutes: Int = 10, joinType: String = "inner"): DataFrame = {
    val imp = impressions.withWatermark("imp_ts", "30 minutes")
    val clk = clicks.withWatermark("click_ts", "30 minutes")
    imp.join(clk,
      expr(s"""ad_id = c_ad_id AND
              |click_ts >= imp_ts AND
              |click_ts <= imp_ts + interval $windowMinutes minutes""".stripMargin),
      joinType)
  }

  /** Stage the events' views and clicks as the two ts-ranged join
    * sides under `base` (`more` stages further slices off the pinned
    * events before they are released) and open both as streams. */
  private def stageSides(spark: SparkSession, sfDir: String, base: String)(
      more: DataFrame => Unit = _ => ()): (DataFrame, DataFrame) = {
    // materialized once (r16, guide §2.4): each ranged side pays a
    // range-sampling pass PLUS the shuffle-write pass — four events
    // scans for two slim relations; off the pin they are block reads
    graft.ops.Materialize.using(Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"))) { ev =>
      Replay.stageRanges(s"$base/imps", ev.filter(col("event_type") === "view")
        .select(col("user_id").as("ad_id"), col("ts").as("imp_ts")), "imp_ts")
      Replay.stageRanges(s"$base/clicks", ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_ad_id"), col("ts").as("click_ts")),
        "click_ts")
      more(ev)
    }
    (Replay.source(spark, "ad_id BIGINT, imp_ts TIMESTAMP", s"$base/imps"),
      Replay.source(spark, "c_ad_id BIGINT, click_ts TIMESTAMP",
        s"$base/clicks"))
  }

  /** q162: the stream-stream interval join as a DECLARED query —
    * views attributed to the same user's clicks within 60 minutes,
    * both sides REAL unbounded streams with watermark-bounded join
    * state, replayed over the events table and rolled up per ad so
    * DuckDB can certify the exact pair set the join emitted.
    *
    * Completeness argument (why the stream's answer equals the batch
    * join): both sides are staged ts-sorted, so (a) no input row is
    * ever late against the watermark, and (b) a view's join state is
    * evicted only once the CLICK-side maximum exceeds
    * `imp_ts + 90 min` (30-min watermark + 60-min interval bound) —
    * and every later click then has `click_ts > imp_ts + 60 min`, so
    * nothing evicted could still match. Inner joins emit on arrival,
    * so after draining, the emitted set IS the batch interval join,
    * arrival-order-insensitively. ≥ 2 micro-batches hard-asserted.
    *
    * Scale shape: join state is bounded by the watermark horizon on
    * both sides (the property that lets this run forever); each
    * trigger shuffles only that batch's rows on ad_id. */
  def streamedAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_join", sfDir)
    val (imps, clicks) = stageSides(spark, sfDir, base)()
    val q = Replay.withStatePartitions(spark) {
      attribution(imps, clicks, windowMinutes = 60).writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }
    Replay.drain(q, 2, "attribution stream")
    spark.read.parquet(s"$base/out")
      .groupBy(col("ad_id")).agg(
        count(lit(1)).as("n_attrib"),
        sum(unix_micros(col("click_ts")) - unix_micros(col("imp_ts")))
          .as("gap_us_sum"))
      .orderBy(col("ad_id"))
  }

  /** q210: the LEFT OUTER stream-stream interval join — the state
    * shape q162's inner join never exercises: an impression with no
    * click in its window must surface as a null-padded row, and the
    * engine may emit it ONLY once the watermark proves no match can
    * still arrive (emit-on-arrival would be wrong: a matching click
    * could still come). That makes the outer path the one whose
    * correctness depends on state EVICTION running, not just state
    * lookup — a pipeline that never certified it doesn't know whether
    * its "no conversion" rows are real or just rows the engine never
    * got around to flushing.
    *
    * Flush discipline: outer results emit when the global watermark
    * passes `imp_ts + 60 min interval + 30 min delay`, and the
    * watermark the join APPLIES lags one batch behind the displayed
    * one (the probed q197 semantics, same Spark version pin). The
    * staging therefore appends TWO synthetic advance slices per side
    * (ad_id = −1, at max_ts + 3 h and + 6 h): the first pushes the
    * watermark past every real impression's flush horizon, the second
    * gives the lagged filter a batch to apply it. The advance rows
    * filter out of the rollup by id; the −1 impression itself ends
    * beyond the final watermark and correctly never flushes.
    *
    * Matched rows still emit on arrival (inner semantics), so the
    * emitted set = batch LEFT JOIN exactly: matched pairs by the q162
    * completeness argument, unmatched rows because every real
    * impression's horizon is passed by construction. The oracle
    * certifies both populations per ad (match count, null count,
    * summed gaps).
    *
    * Scale shape: identical to q162 — watermark-bounded state both
    * sides, per-batch shuffles on ad_id; the outer flush adds no
    * retained state (eviction emits instead of discarding). */
  def streamedOuterAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_outer", sfDir)
    val (imps, clicks) = stageSides(spark, sfDir, base) { ev =>
      // two advance slices per side: maxTs is a 1-row bounded aggregate
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val adv = (1 to 2).map(k => spark.range(1).select(lit(-1L).as("ad_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + k * 3L * 3600 * 1000))
          .as("imp_ts")))
      Replay.stage(s"$base/imps", adv)
      Replay.stage(s"$base/clicks", adv.map(_.select(
        col("ad_id").as("c_ad_id"), col("imp_ts").as("click_ts"))))
    }
    val q = Replay.withStatePartitions(spark) {
      attribution(imps, clicks, windowMinutes = 60, joinType = "left_outer")
        .writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }
    Replay.drain(q, 2, "outer attribution stream")
    spark.read.parquet(s"$base/out")
      .filter(col("ad_id") >= 0)
      .groupBy(col("ad_id")).agg(
        count(col("click_ts")).as("n_matched"),
        count(when(col("click_ts").isNull, 1)).as("n_unmatched"),
        coalesce(sum(unix_micros(col("click_ts")) - unix_micros(col("imp_ts"))),
          lit(0L)).as("gap_us_sum"))
      .orderBy(col("ad_id"))
  }

  /** The batch LEFT interval join certifies both populations. */
  val streamedOuterAttributionSql: String =
    """WITH v AS (
      |  SELECT user_id AS ad_id, ts AS imp_ts
      |  FROM events WHERE event_type = 'view'),
      |c AS (
      |  SELECT user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT v.ad_id, v.imp_ts, c.click_ts
      |  FROM v LEFT JOIN c ON v.ad_id = c.user_id
      |    AND c.click_ts >= v.imp_ts
      |    AND c.click_ts <= v.imp_ts + INTERVAL 60 MINUTE)
      |SELECT ad_id, COUNT(click_ts) AS n_matched,
      |  COUNT(*) FILTER (WHERE click_ts IS NULL) AS n_unmatched,
      |  COALESCE(CAST(SUM(epoch_us(click_ts) - epoch_us(imp_ts)) AS BIGINT), 0)
      |    AS gap_us_sum
      |FROM j GROUP BY ad_id ORDER BY ad_id""".stripMargin

  /** The batch interval join, per-ad rollup — certifies the streamed
    * pair set exactly (count AND summed gaps). */
  val streamedAttributionSql: String =
    """WITH v AS (
      |  SELECT user_id AS ad_id, ts AS imp_ts
      |  FROM events WHERE event_type = 'view'),
      |c AS (
      |  SELECT user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT ad_id, imp_ts, click_ts
      |  FROM v JOIN c ON ad_id = user_id
      |    AND click_ts >= imp_ts
      |    AND click_ts <= imp_ts + INTERVAL 60 MINUTE)
      |SELECT ad_id, COUNT(*) AS n_attrib,
      |  CAST(SUM(epoch_us(click_ts) - epoch_us(imp_ts)) AS BIGINT)
      |    AS gap_us_sum
      |FROM j GROUP BY ad_id ORDER BY ad_id""".stripMargin
}
