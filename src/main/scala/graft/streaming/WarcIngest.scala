package graft.streaming

import graft.ops.Warc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming WARC ingest end-to-end: WARC container frames arrive as
  * a stream (the batch-scale form of the reference's per-fetch Celery
  * queue, SURVEY §2.I), each micro-batch walks the container records
  * scan-locally ([[Warc.responseItems]]), routes the HTTP responses
  * into page items, and the shared [[Ingest]] pipeline does the rest:
  * embed → normalize/truncate → url-keyed newest-wins upsert into the
  * parquet corpus. At-least-once delivery + the idempotent merge =
  * effectively exactly-once, exactly like the PageItem stream.
  *
  * Scale shape: the decode is mapPartitions inside the micro-batch
  * (one task per WARC frame slice — a 100 TB .warc.gz backlog is just
  * more frames through the same plan), and the only exchange per
  * batch is the upsert's merge-key shuffle. Nothing WARC-specific
  * touches the sink: the stream is indistinguishable from the live
  * crawler's once routed.
  */
object WarcIngest {

  /** Route a (streaming or batch) WARC-file frame set to page items.
    * Typed mapPartitions works identically on both execution modes. */
  def route(files: Dataset[Warc.WarcFile]): DataFrame =
    Warc.responseItems(files)

  /** Wire a streaming WARC source through route → embed → upsert.
    * Returns the StreamingQuery (caller manages lifecycle). */
  def run(spark: SparkSession, files: Dataset[Warc.WarcFile],
      corpusDir: String, checkpointDir: String) =
    Ingest.run(spark, route(files), corpusDir, checkpointDir)

  /** q155: the streaming ingest e2e as a DECLARED query — the actual
    * Structured Streaming path (file-source stream → [[route]] →
    * embed → url-keyed upsert through `foreachBatch`), not its batch
    * twin, replayed over a bounded backlog and then rolled up so the
    * DuckDB oracle can certify the corpus the STREAM built.
    *
    * Shape: the WARC frames are staged as parquet and consumed by a
    * file-source stream ([[Replay.source]]) — one micro-batch per
    * staged file, which the query HARD-ASSERTS (≥ 2 batches), so a
    * regression to single-batch batch-mode execution fails the row
    * rather than silently passing. This is the production shape (an
    * object-store .warc.gz backlog drained as a stream); nothing is
    * collected to the driver. A fixed per-process scratch dir is
    * cleared at entry so every run replays the stream from batch 0
    * with a fresh checkpoint.
    *
    * The per-domain rollup carries response counts, status splits,
    * gzip-path counts, total content chars, and the count of rows
    * whose stored embedding is 1024-wide: together they certify
    * route (urls, statuses, gzip framing), payload integrity
    * (chars), and the embed+truncate stage (dims) — all off the
    * post-stream corpus parquet, so the upsert ran too. */
  def streamedCorpusHealth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Replay.scratch(spark, "stream_e2e", sfDir)
    val stage = s"$base/stage"
    // 4 staged files → 4 data micro-batches through the real stream
    Warc.warcTable(spark, sfDir).toDF().repartition(4)
      .write.parquet(stage)
    val src = Replay.source(spark, "file_id BIGINT, content BINARY", stage)
      .as[Warc.WarcFile]
    // NOT repartitioned before the per-batch work (r16 probe): the
    // q157-style within-batch repartition was tried in BOTH
    // placements — on the container stream (payload bytes cross the
    // exchange) and on the routed items — and both came out ~10%
    // SLOWER than the single-split scan: this pipeline's per-batch
    // cost is the upsert's corpus rewrite, not the decode/embed, so
    // the extra exchange buys parallelism nothing here (§2.3).
    // NOT in Replay.withStatePartitions: this pipeline is stateless
    // (file source + foreachBatch embed/upsert) — fewer shuffle
    // partitions would cut the embedding stage's parallelism with no
    // state commits to save
    val q = run(spark, src, s"$base/corpus", s"$base/ckpt")
    Replay.drain(q, 2, "streaming e2e")
    spark.read.parquet(s"$base/corpus")
      .groupBy(col("domain")).agg(
        count(lit(1)).as("n_urls"),
        sum(when(col("http_status") === 200, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("http_status") >= 400, 1L).otherwise(0L)).as("n_err"),
        sum(when(col("from_gzip"), 1L).otherwise(0L)).as("from_gzip"),
        sum(length(col("content")).cast("long")).as("n_chars"),
        sum(when(size(col("embedding")) === 1024, 1L).otherwise(0L))
          .as("n_dim1024"))
      .orderBy(col("domain"))
  }

  /** The closed-form record definitions, recomputed — DuckDB never
    * sees a WARC byte or a stream; a hash match proves the streamed
    * corpus contains exactly what the records dictate. */
  val streamedCorpusHealthSql: String =
    s"""SELECT 'dom' || (c_custkey % 20) || '.test' AS domain,
      |  COUNT(*) AS n_urls,
      |  CAST(SUM(CASE WHEN c_custkey % 7 IN (0, 3) THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
      |  CAST(SUM(CASE WHEN c_custkey % 7 IN (0, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
      |  CAST(SUM(CASE WHEN (c_custkey // ${Warc.RecordsPerFile}) % 2 = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS from_gzip,
      |  CAST(SUM(40 + (c_custkey % 100)) AS BIGINT) AS n_chars,
      |  CAST(COUNT(*) AS BIGINT) AS n_dim1024
      |FROM customer
      |GROUP BY 1 ORDER BY domain""".stripMargin
}
