package graft.streaming

import graft.functions.{Embeddings, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming ingest — the Spark shape of the reference's
  * Celery/Redis pipeline (SURVEY §2.I): every scraped PageItem flows
  * through embed → normalize/truncate → upsert, at-least-once with an
  * idempotent sink, so effectively exactly-once (Q2). The per-item
  * queue becomes micro-batch partition parallelism; ordering is
  * arrival order, no event-time/watermark semantics (Q4), matching
  * the reference.
  *
  * `transformBatch` is the pure per-batch pipeline (unit-testable,
  * shared between streaming and batch backfill); [[run]] wires it to
  * any streaming source via foreachBatch + [[upsertInto]], the
  * url-keyed newest-wins merge (S5).
  */
object Ingest {

  /** The embed stage of E1: drop rows the reference's task guards
    * drop (`tasks.py:66-74`: null url, or null content on non-image
    * rows), derive domain, embed — text content through the text
    * featurizer, image rows through the BYTE path (fetch the image by
    * url, base64, vision-featurize — `tasks.py:79-84` dispatch,
    * `embeddings.py:18-43` chain), normalize-then-pad (quirk Q1
    * order), stamp processing time. */
  def transformBatch(items: DataFrame, batchTime: java.sql.Timestamp): DataFrame =
    items
      .filter(col("url").isNotNull &&
        (col("content").isNotNull || col("file_type") === "image"))
      .withColumn("domain", TextOps.domainOf(col("url")))
      .withColumn("embedding",
        when(col("embedding_type") === "text",
          Embeddings.embedStored(col("content")))
          .otherwise(Embeddings.embedVisionStored(
            Embeddings.fetchImageBytes(col("url")))))
      .withColumn("last_crawled", lit(batchTime))

  /** S5 upsert-merge of a processed batch into the corpus state:
    * union + keep newest per url. Partitioned by the merge key —
    * the only shuffle — and idempotent (re-applying a batch is a
    * no-op), which is what makes retry-based delivery exactly-once
    * in effect.
    *
    * The winner per url is the row with the greatest `last_crawled`.
    * Every row of a batch carries the same stamp and a crawl can
    * deliver a url more than once in one batch, so a tie is broken on
    * the rows' own values: the least by every other orderable column,
    * in schema order, ascending with nulls first. Map columns cannot
    * be ordered and take no part, so rows that differ only in a map
    * still tie. Without the tie-break the winner would depend on the
    * physical row order, and a batch re-delivered after a crash or
    * staged with another partitioning could keep a different row. */
  def upsertInto(state: DataFrame, batch: DataFrame): DataFrame = {
    val cols = state.columns
    val ties = state.schema.fields.toSeq.collect {
      case f if f.name != "url" && f.name != "last_crawled" &&
          RowOrdering.isOrderable(f.dataType) => col(f.name).asc_nulls_first
    }
    state.unionByName(batch.select(cols.map(col): _*))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("url"))
          .orderBy(col("last_crawled").desc +: ties: _*)))
      .filter(col("rn") === 1).drop("rn")
  }

  /** The full job state machine (Q3 + the stop surface the frontend
    * declares — `jobs.tsx:38` lists `stopping`/`stopped` and
    * `api.ts:69-77` posts to the stop endpoint): pending|queued →
    * running → completed|failed, and running → stopping → stopped.
    * Terminal states have no exits. */
  val ValidTransitions: Map[String, Set[String]] = Map(
    "pending"   -> Set("queued", "running"),
    "queued"    -> Set("running"),
    "running"   -> Set("completed", "failed", "stopping"),
    "stopping"  -> Set("stopped"),
    "completed" -> Set.empty,
    "failed"    -> Set.empty,
    "stopped"   -> Set.empty)

  /** Job-ledger state transition (Q3): rows matching `pred` move to
    * `to` only when the machine allows it (an invalid request is a
    * silent no-op — the semantics of the reference's stop endpoint,
    * which the frontend calls but the backend never validates). A stop
    * request (POST /stop-crawler) is `to = "stopping"`, which moves
    * only running jobs; the worker acknowledging it is `to =
    * "stopped"`, which moves only stopping ones. */
  def transition(ledger: DataFrame, pred: org.apache.spark.sql.Column,
      to: String, at: java.sql.Timestamp): DataFrame = {
    val fromStates = ValidTransitions.collect {
      case (from, tos) if tos(to) => from
    }.toSeq
    val hit = pred && col("status").isin(fromStates.map(lit): _*)
    ledger.withColumn("updated_at",
        when(hit, lit(at)).otherwise(col("updated_at")))
      .withColumn("status",
        when(hit, lit(to)).otherwise(col("status")))
  }

  /** Wire a streaming PageItem source through the pipeline into a
    * parquet-backed corpus dir, one upsert-merge per micro-batch.
    *
    * Batch stamps are `base + batchId` millis where `base` is one
    * past the newest `last_crawled` already in the corpus (epoch for
    * an empty one): monotonic across batches, deterministic on
    * within-run retry of the same batchId (idempotent merge), and
    * never older than pre-seeded rows — so pointing the stream at a
    * backfilled corpus cannot silently drop every update. */
  /** If a previous run died between renaming the live dir away and
    * renaming the new build in, the backup is the only copy —
    * promote it back before anyone reads. Idempotent. */
  private def restoreIfInterrupted(
      fs: org.apache.hadoop.fs.FileSystem, corpusDir: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(corpusDir)
    val old = new org.apache.hadoop.fs.Path(corpusDir + ".old")
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
  }

  def run(spark: SparkSession, source: DataFrame, corpusDir: String,
      checkpointDir: String) = {
    val fs0 = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    restoreIfInterrupted(fs0, corpusDir)
    val base: Long =
      if (!fs0.exists(new org.apache.hadoop.fs.Path(corpusDir))) 0L
      else {
        // no catch-all here: a corpus that exists but can't be read is
        // a real fault — falling back to base=0 would stamp batches
        // older than pre-seeded rows and silently drop every update
        val m = spark.read.parquet(corpusDir)
          .agg(org.apache.spark.sql.functions.max(col("last_crawled")))
          .collect().head
        if (m.isNullAt(0)) 0L else m.getTimestamp(0).getTime + 1L
      }
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t = new java.sql.Timestamp(base + batchId)
        val processed = transformBatch(batch, t)
        val sess = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          sess.sparkContext.hadoopConfiguration)
        restoreIfInterrupted(fs, corpusDir)
        val dst = new org.apache.hadoop.fs.Path(corpusDir)
        val existing =
          if (fs.exists(dst)) sess.read.parquet(corpusDir)
          else processed.limit(0)
        upsertInto(existing, processed)
          .write.mode("overwrite").parquet(corpusDir + ".tmp")
        // swap via backup rename: the previous state survives as
        // corpusDir or corpusDir.old at every instant, and
        // restoreIfInterrupted promotes the backup after a mid-swap
        // crash (a transactional table format replaces this at
        // production scale)
        val old = new org.apache.hadoop.fs.Path(corpusDir + ".old")
        fs.delete(old, true)
        if (fs.exists(dst)) fs.rename(dst, old)
        fs.rename(new org.apache.hadoop.fs.Path(corpusDir + ".tmp"), dst)
        fs.delete(old, true)
        ()
      }
      .start()
  }
}
