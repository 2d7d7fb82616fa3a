package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark LATE-DATA DROPS as a declared query — the semantic
  * corner q159 deliberately staged AWAY (its ts-sorted slices
  * guarantee zero drops): real feeds replay and reorder, and the
  * watermark's whole job is to DROP what arrives behind evicted
  * state. This query replays a late slice and certifies cross-engine
  * exactly which late rows the engine keeps (still-open windows —
  * they double-count, the honest at-least-once consequence) and
  * which it drops (evicted windows — absent from the answer; had
  * they been kept, those windows would re-emit and the row counts
  * would betray it).
  *
  * OBSERVED-SEMANTICS NOTE (probed on Spark 4.1.2 — the oracle PINS
  * the probed behavior, see below): the late-record filter applies
  * the watermark with a ONE-BATCH LAG — batch k filters against the
  * watermark computed from batches ≤ k−2 (floor-to-MILLISECOND of
  * max event time minus the delay; batch 1 filters against −∞),
  * while the FINAL emission uses the fully-updated watermark (the
  * trailing no-data trigger catches up). The staging is designed so
  * only batch 2 is lag-sensitive — exactly the case probed — and
  * batch 1 repeats the max row precisely so batch 2's lagged
  * watermark (from batch 0) EQUALS its unlagged one (from batch 1):
  * the staging-time requires below assert the arithmetic that makes
  * batches 0/1/3 lag-invariant, so if a Spark upgrade ever flips
  * this query red, the failure is diagnosable as the LAG PIN moving
  * (re-probe and update the oracle), not as a drop-path bug.
  *
  * The replay (4 pinned micro-batches over events, 5-min windows,
  * 10-min watermark):
  *   batch 0 — ALL events (the watermark will jump to max−10min);
  *   batch 1 — the max-ts row again (+1 in its window; keeps the
  *             watermark unchanged while absorbing the filter lag);
  *   batch 2 — the LATE slice: every event within 40 min of max,
  *             redelivered. Rows in windows ending ≤ the batch-0
  *             watermark are DROPPED; rows in still-open windows are
  *             KEPT and double-count;
  *   batch 3 — one synthetic 'advance' row at max+30 min, pushing
  *             the final watermark past every real window so the
  *             kept duplicates actually emit (its own window stays
  *             open and never appears).
  *
  * Scale shape: identical to q159 (per-window state, watermark GC);
  * the census is the emitted append sink, nothing driver-side but
  * the staging's scalar max.
  */
object LateDrop {

  /** q197: append-mode windowed counts under planted late arrivals. */
  def streamedLateDrops(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_late", sfDir)
    val stage = s"$base/stage"
    // materialized once (r16, guide §2.4): the max/min scalar probes
    // and three of the staged batch writes each re-scanned events —
    // five passes for one slim (ts, event_type) relation
    graft.ops.Materialize.using(
      Tables.events(spark, sfDir).select(col("ts"), col("event_type"))) { ev =>
      val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val lateSlice = ev.filter(col("ts") >=
        new java.sql.Timestamp(mx.getTime - 40 * 60 * 1000))
      // the slice must exercise BOTH paths: the filter threshold is
      // floor-to-ms(max)−10min, so a row earlier than max−15min is
      // droppable under ANY 5-min window alignment, and the max row
      // itself (in the slice by construction) is always keepable
      val thrMs = mx.getTime - 600000L
      val lo = lateSlice.agg(min(col("ts"))).collect()(0).getTimestamp(0)
      require(lo.getTime < thrMs - 300000L,
        "late slice must contain droppable rows (evicted windows)")
      // lag-invariance pins (see scaladoc): batches 0/1/3 must give the
      // same keep/drop answer whether the filter uses the lagged or the
      // current watermark, so ONLY batch 2 depends on the probed
      // one-batch-lag semantics. 5-min windows on ms epochs:
      def winEndMs(t: Long): Long = (t / 300000L + 1L) * 300000L
      // batch 1 (the max row): its window clears the batch-0 watermark,
      // so lagged (−∞) and unlagged (thrMs) filters both keep it — and
      // being the max row, it cannot ADVANCE the watermark, which is
      // what equalizes batch 2's lagged vs unlagged threshold
      require(winEndMs(mx.getTime) > thrMs,
        "lag pin: batch-1 max row must be keepable under both watermarks")
      // batch 3 (advance row at max+30min): keepable under any watermark
      // this replay can reach, and its own window must stay OPEN past
      // the final watermark (floor-to-ms(max)+20min) so it never emits
      require(winEndMs(mx.getTime + 1800000L) > mx.getTime + 1200000L,
        "lag pin: advance row's window must outlive the final watermark")
      import spark.implicits._
      val advance = Seq((new java.sql.Timestamp(mx.getTime + 30 * 60 * 1000),
        "advance")).toDF("ts", "event_type")
      Replay.stage(stage, Seq(
        ev,
        ev.filter(col("ts") === mx),
        lateSlice,
        advance))
    }
    val src = Replay.source(spark, "ts TIMESTAMP, event_type STRING", stage)
    val q = Replay.withStatePartitions(spark) {
      WindowedStats.windowedCounts(src).writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }
    Replay.drain(q, 4, "late-drop replay")
    spark.read.parquet(s"$base/out")
      .orderBy(col("w_start"), col("event_type"))
  }

  /** DuckDB oracle: the observed keep/drop/emit rules replayed
    * closed-form — batch-2 rows kept iff their window end clears the
    * lagged watermark (floor-to-ms(max)−10min); emission ends at the
    * advance-row watermark (floor-to-ms(max)+20min), which the
    * advance row's own window never reaches. */
  val streamedLateDropsSql: String =
    """WITH mx AS (
      |  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 AS mx_us FROM events),
      |thr AS (SELECT mx_us - 600000000 AS us FROM mx),
      |fin AS (SELECT mx_us + 1200000000 AS us FROM mx),
      |arrivals AS (
      |  SELECT ts, event_type FROM events
      |  UNION ALL
      |  SELECT ts, event_type FROM events, mx
      |  WHERE epoch_us(ts) = (SELECT epoch_us(MAX(ts)) FROM events)
      |  UNION ALL
      |  SELECT e.ts, e.event_type FROM events e, mx
      |  WHERE epoch_us(e.ts) >= (SELECT epoch_us(MAX(ts)) FROM events)
      |      - 2400000000
      |    AND (epoch_us(e.ts) // 300000000 + 1) * 300000000
      |      > (SELECT us FROM thr))
      |SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000)
      |    AS w_start,
      |  event_type, COUNT(*) AS n
      |FROM arrivals, fin
      |WHERE (epoch_us(ts) // 300000000 + 1) * 300000000 <= fin.us
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin
}
