package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the storage-layout lever that deletes
  * the join shuffle entirely. A join between two tables bucketed by
  * the join key into the same bucket count needs NO Exchange on
  * either side: matching keys already live in matching bucket files,
  * so the join plans as a zipped per-bucket SortMergeJoin (and with
  * `sortBy`, no Sort either). At 100 TB this is THE recipe for
  * recurring joins (corpus ⋈ embeddings, corpus ⋈ scores, snapshot ⋈
  * snapshot): pay one bucketed write, then every downstream join in
  * every job skips both exchanges.
  *
  * Spark only honors bucketing through the catalog, so the writer
  * goes via `saveAsTable` (session catalog; warehouse dir is whatever
  * the session configures). BucketingSpec proves the contract: the
  * bucketed join subplan has ZERO Exchange operators, the
  * plain-parquet control has them, and both layouts return identical
  * rows.
  */
object Bucketing {

  val Buckets = 8

  /** Fixed per-process layout location. `writeBucketed` drops stale
    * catalog entries and deletes the location before writing, so
    * reusing one path is idempotent — a fresh temp dir per invocation
    * would leak a full bucketed copy of both tables every run (bench
    * min-of-2 = two copies per JVM, more across rounds). */
  private def layoutBase(sfDir: String): String =
    graft.Scratch.dir("bucketed_layout", sfDir)

  /** Write documents + embeddings as doc_id-bucketed, doc_id-sorted
    * EXTERNAL catalog tables under `base` (idempotent: drops stale
    * catalog entries and locations first — an explicit path keeps the
    * layout out of the default warehouse dir). */
  def writeBucketed(spark: SparkSession, sfDir: String, base: String,
      docsTable: String = "docs_bucketed",
      embTable: String = "emb_bucketed"): Unit = {
    def write(df: DataFrame, table: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val loc = new org.apache.hadoop.fs.Path(s"$base/$table")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(loc, true)
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(Buckets, "doc_id").sortBy("doc_id")
        .option("path", loc.toString)
        .format("parquet").saveAsTable(table)
    }
    write(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), col("text")),
      docsTable)
    write(Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding")), embTable)
  }

  /** The recurring join itself, off the bucketed layout — no agg on
    * top, so its plan isolates the join contract: with both sides
    * bucketed by doc_id there must be no Exchange anywhere in it. */
  def bucketedJoined(spark: SparkSession,
      docsTable: String = "docs_bucketed",
      embTable: String = "emb_bucketed"): DataFrame =
    spark.table(docsTable).select(col("doc_id"), col("source"))
      .join(spark.table(embTable).select(col("doc_id"),
        col("embedding")), Seq("doc_id"))

  /** Per-source rollup used to compare answers across layouts. */
  def rollup(joined: DataFrame): DataFrame =
    joined.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("embedding")).cast("long")).as("dim_sum"))
      .orderBy(col("source"))

  /** q153: the storage-layout lever as a DECLARED query, not just a
    * spec demo — write the doc_id-bucketed layout, run the recurring
    * corpus ⋈ embeddings join off it, and HARD-ASSERT the join plan
    * is exchange-free before reporting the per-source rollup. The
    * join runs with broadcast disabled so what's proven is the
    * non-broadcast regime — at 100 TB neither side broadcasts, and
    * the bucketed layout is exactly what deletes the two shuffles the
    * SortMergeJoin would otherwise need.
    *
    * The join executes exactly ONCE: an eager `pin`
    * materializes it (executor blocks, never the driver), the
    * zero-Exchange assertion reads that same execution's finalized
    * adaptive plan, and the rollup — the answer the caller collects —
    * scans the checkpointed blocks, so the asserted plan IS the plan
    * that produced the reported rows and the broadcast-threshold
    * restore cannot swap a different join in under the caller's later
    * action. Config is restored after (plan construction must not
    * mutate session state). */
  def bucketedRollup(spark: SparkSession, sfDir: String): DataFrame = {
    writeBucketed(spark, sfDir, layoutBase(sfDir))
    GraftSession.withConfs(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val joined = bucketedJoined(spark)
      val pinned = joined.pin() // eager: the one execution
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join must plan zero Exchange operators, got:\n$plan")
      require(plan.contains("SortMergeJoin"),
        s"bucketed join must be a per-bucket SMJ, got:\n$plan")
      rollup(pinned)
    }
  }

  /** DuckDB oracle for q153 — the same rollup off the plain tables
    * (the layout changes the PLAN, never the answer). */
  val bucketedRollupSql: String =
    """SELECT d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(e.embedding)) AS BIGINT) AS dim_sum
      |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin
}
