package graft.streaming

import graft.Tables
import graft.ops.Blocklist
import graft.expressions.MultiContains
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of the q146 blocklist audit — content-policy
  * screening where production actually runs it: ON THE INGEST PATH,
  * before a document is ever written to the corpus. Batch screening
  * (q146) tells you what already shipped; the stream gate keeps it
  * from shipping.
  *
  * Two surfaces, both driven by the SAME shared Aho-Corasick
  * automaton expression as the batch audit
  * ([[graft.expressions.MultiContains]] over [[Blocklist.Patterns]]),
  * so stream and batch can never disagree on what counts as a hit:
  *
  *  - [[screen]]: per-document pass/block decision, append-mode — a
  *    stateless one-automaton-pass projection, so it rides inside
  *    whatever micro-batch pipeline ingest already runs (the same
  *    placement as [[Ingest]]'s guard filters).
  *  - [[runningAudit]]: per-pattern running totals across all
  *    micro-batches — a stateful streaming aggregation whose state is
  *    K pattern rows (constant, tiny), never per-document state.
  *
  * Scale shape: text is read once per arriving document inside its
  * micro-batch and never crosses an exchange; the only shuffled
  * relation is the K-row per-pattern rollup.
  */
object BlocklistScreen {

  case class Doc(doc_id: Long, text: String)

  /** A document is blocked when any blocklist pattern occurs. The
    * decision carries the total hit count so downstream triage can
    * rank the quarantine queue. */
  def screen(docs: Dataset[Doc]): DataFrame =
    docs.select(col("doc_id"),
        MultiContains.hits(col("text"), Blocklist.Patterns).as("hits"))
      .select(col("doc_id"),
        aggregate(col("hits"), lit(0L), (acc, x) => acc + x).as("n_hits"))
      .withColumn("blocked", col("n_hits") > 0)

  /** Running (pattern, n_docs, n_hits) totals over everything that
    * has arrived — the q146 audit, maintained incrementally. Run with
    * outputMode "complete" (or "update"): state is exactly K rows. */
  def runningAudit(docs: Dataset[Doc]): DataFrame = {
    val patArr = array(Blocklist.Patterns.map(lit): _*)
    docs.select(posexplode(
        MultiContains.hits(col("text"), Blocklist.Patterns))
        .as(Seq("idx", "n")))
      .select(element_at(patArr, col("idx") + 1).as("pattern"), col("n"))
      .groupBy(col("pattern")).agg(
        sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("n")).as("n_hits"))
  }

  /** q158: the streaming audit as a DECLARED query — the REAL
    * streaming-aggregation path ([[runningAudit]] in complete output
    * mode: state is exactly K pattern rows, updated every
    * micro-batch), over the documents corpus staged as a bounded
    * file-source stream. `foreachBatch` overwrites the published
    * parquet snapshot each trigger — the dashboard-refresh production
    * shape — so the LAST snapshot is the full-corpus audit, which is
    * what the rollup reads and DuckDB recertifies with q146's naive
    * per-pattern `replace()` formulation. A running total is
    * arrival-order-insensitive, so no order pinning is needed; the
    * ≥ 2 micro-batch hard-assert keeps the row honest about having
    * exercised the incremental-state path. */
  def streamedAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Replay.scratch(spark, "stream_audit", sfDir)
    val stage = s"$base/stage"
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .repartition(4).write.parquet(stage)
    val src = Replay.source(spark, "doc_id BIGINT, text STRING", stage).as[Doc]
    val snap = s"$base/snapshot"
    val q = Replay.withStatePartitions(spark) {
      runningAudit(src).writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(snap)
        }
        .start()
    }
    Replay.drain(q, 2, "streaming audit")
    spark.read.parquet(snap).orderBy(col("pattern"))
  }

  /** q146's naive K-scan oracle, minus the per-10k rate (the stream
    * publishes raw totals; rates are a consumer concern). */
  val streamedAuditSql: String = {
    val vals = Blocklist.Patterns
      .map(p => s"('${p.replace("'", "''")}')").mkString(", ")
    s"""WITH pats(pattern) AS (VALUES $vals),
      |per_doc AS (
      |  SELECT pattern,
      |    CAST((length(text) - length(replace(text, pattern, '')))
      |      / length(pattern) AS BIGINT) AS n
      |  FROM documents CROSS JOIN pats)
      |SELECT pattern,
      |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_hits
      |FROM per_doc
      |GROUP BY pattern
      |ORDER BY pattern""".stripMargin
  }
}
