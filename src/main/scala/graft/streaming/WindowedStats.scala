package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation with a watermark — the Structured
  * Streaming shape for continuous crawl/event stats (the reference
  * itself is processing-time only, SURVEY §2.I Q4; this is the
  * scale-path generalization: late data bounded by the watermark,
  * state GC'd per window).
  */
object WindowedStats {

  /** 5-minute tumbling counts per event type, 10-minute watermark.
    * In append mode a window emits exactly once, when the watermark
    * passes its end — deterministic downstream consumption. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** q159: event-time windows + watermark as a DECLARED query — the
    * REAL append-mode watermarked streaming aggregation over the
    * events table replayed as a bounded file-source stream, so the
    * one stateful surface the correctness gate didn't yet cover
    * (watermark-driven state eviction) produces an oracle-checked
    * row.
    *
    * Determinism: the stage is `repartitionByRange` on `ts` — 4
    * contiguous time slices, drained oldest-slice-first under pinned
    * mtimes — so no row ever arrives behind the watermark (a later
    * slice's minimum is ≥ every earlier slice's maximum) and nothing
    * is late-dropped. Append mode then emits EXACTLY the windows
    * whose end ≤ the final watermark; the trailing windows stay in
    * state forever, and the oracle reproduces that boundary from the
    * published semantics (public Spark: event-time stats in
    * MILLISECONDS — `floor(max_ts_µs/1000)` — minus the delay, state
    * evicted on `window.end <= watermark`).
    *
    * Scale shape: state is one row per (open window, event_type) —
    * bounded by the watermark horizon, GC'd as it advances; each
    * micro-batch shuffles partial counts only. The sink is parquet
    * append; nothing driver-side. */
  def streamedWindowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_win", sfDir)
    val stage = s"$base/stage"
    Replay.stageRanges(stage,
      Tables.events(spark, sfDir).select(col("ts"), col("event_type")), "ts")
    val src = Replay.source(spark, "ts TIMESTAMP, event_type STRING", stage)
    val q = Replay.withStatePartitions(spark) {
      windowedCounts(src).writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }
    Replay.drain(q, 2, "windowed stream")
    spark.read.parquet(s"$base/out")
      .orderBy(col("w_start"), col("event_type"))
  }

  /** q161: streaming session windows as a DECLARED query — the
    * `session_window` state path (merge-on-arrival per-key session
    * state) over the q64 slice replayed as a bounded stream in
    * COMPLETE mode: every trigger re-emits the full merged session
    * set, `foreachBatch` overwrites the published snapshot, and the
    * final snapshot — sessions after ALL events — is what DuckDB
    * recertifies with q64's lag-based island formulation. Complete
    * mode keeps all session state and never drops late input, so the
    * final merge result is arrival-order-insensitive and no order
    * pinning is needed; ≥ 2 micro-batches are hard-asserted so the
    * cross-batch session-merge path (a batch-mode run never
    * exercises it) really ran.
    *
    * Scale shape: state is one row per OPEN session per key (in
    * production append mode + watermark GCs closed sessions; the
    * bounded replay uses complete mode because the gate needs the
    * full final answer); per batch the shuffle is session-key
    * partial rows. */
  def streamedSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_sess", sfDir)
    val stage = s"$base/stage"
    Tables.events(spark, sfDir).filter(col("user_id") < 10)
      .select(col("user_id"), col("ts"), col("value"))
      .repartition(4).write.parquet(stage)
    val src = Replay.source(spark, "user_id BIGINT, ts TIMESTAMP, value DOUBLE",
      stage)
    val sessions = src
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(28,10)")).cast("double"), 2)
          .as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("s_start"),
        unix_timestamp(col("w.end")).as("s_end"),
        col("n_events"), col("total_value"))
    val snap = s"$base/snapshot"
    val q = Replay.withStatePartitions(spark) {
      sessions.writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(snap)
        }
        .start()
    }
    Replay.drain(q, 2, "session stream")
    spark.read.parquet(snap).orderBy(col("user_id"), col("s_start"))
  }

  /** q64's lag-based island oracle certifies the streamed sessions. */
  val streamedSessionsSql: String = graft.ops.Events.sessionWindowsSql

  /** DuckDB replays the append-mode emission rule in closed form:
    * 5-minute epoch-aligned buckets, watermark = floor-to-ms of the
    * global max ts minus 10 minutes, a window published iff its end
    * ≤ that watermark. */
  val streamedWindowCountsSql: String =
    """WITH wm AS (
      |  SELECT ((epoch_us(MAX(ts)) // 1000) - 600000) * 1000 AS wm_us
      |  FROM events),
      |agg AS (
      |  SELECT (epoch_us(ts) // 300000000) AS widx, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT make_timestamp(widx * 300000000) AS w_start, event_type, n
      |FROM agg, wm
      |WHERE (widx + 1) * 300000000 <= wm_us
      |ORDER BY w_start, event_type""".stripMargin
}
