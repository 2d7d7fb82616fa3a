package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-static enrichment join — the remaining member of the
  * streaming join family (q162 covers stream⋈stream): a live event
  * stream joined per-micro-batch against a STATIC dimension table,
  * the shape every ingest enrichment takes (events ⋈ users, urls ⋈
  * domain reputation). Stateless by construction — the static side
  * is re-planned each micro-batch (broadcast under the threshold),
  * no watermark, no state store — which is exactly why it deserves
  * its own declared row: it is the cheapest join a stream can run,
  * and reaching for a stateful stream-stream join when one side is
  * static is a classic scale mistake.
  *
  * Determinism: the join is row-wise (no state, no ordering
  * dependence), so the final sink content equals the batch join
  * regardless of batch split — the only pinned thing is ≥ 2
  * micro-batches so the per-batch re-join path really ran.
  */
object StreamEnrich {

  val StreamBatches = 4

  /** q198: events streamed in 4 micro-batches, enriched against the
    * static customer dim, per-segment rollup of the sink. */
  def streamedEnrichment(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_enrich", sfDir)
    val stage = s"$base/stage"
    // materialized once (r16, guide §2.4): the four staged writes
    // each re-scanned the events table under a coalesce(1) single
    // task; off the pin they are block reads
    graft.ops.Materialize.using(Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"))) { ev =>
      Replay.stage(stage, (0 until StreamBatches).map(b =>
        ev.filter(pmod(col("event_id"), lit(StreamBatches.toLong)) === b)))
    }
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    val src = Replay.source(spark,
      "event_id BIGINT, user_id BIGINT, value DOUBLE", stage)
    val q = src.join(dim, Seq("user_id")) // static side: per-batch re-join
      .select(col("event_id"), col("segment"), col("value"))
      .writeStream
      .outputMode("append").format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    Replay.drain(q, 2, "enrichment")
    spark.read.parquet(s"$base/out")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(28,10)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy(col("segment"))
  }

  /** DuckDB oracle: the plain batch join — stream-static joins are
    * split-invariant. */
  val streamedEnrichmentSql: String =
    """SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 2)
      |    AS value_sum
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY segment ORDER BY segment""".stripMargin
}
