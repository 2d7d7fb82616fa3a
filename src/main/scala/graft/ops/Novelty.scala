package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus novelty measurement — the two questions a training-data
  * curator asks about marginal value of data:
  *
  *  - per document: how much of this document is text seen NOWHERE
  *    else (q151)? Low-novelty documents are the derivative /
  *    near-template ones — memorization risk and dedup-drop
  *    candidates that per-pair dedup (q23-q25) ranks only
  *    indirectly.
  *  - per corpus slice: how fast does the n-gram vocabulary
  *    saturate as the corpus grows (q152)? The Heaps'-law growth
  *    curve is the "is more of this crawl still worth ingesting"
  *    signal — when the new-gram ratio flattens, additional data is
  *    mostly repetition.
  *
  * Both derive from one (doc, 8-gram-hash) pair relation, with
  * attribution via a `min` partial aggregate on the gram hash — the
  * same first-owner shape exact-substring dedup uses (Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models
  * Better"), but aggregated to scores instead of span removal
  * (which q81 covers).
  *
  * Scale shape: gram pairs carry `(doc_id, hash60)` only — document
  * text never crosses a shuffle. First-owner/df attribution is one
  * partial-agg shuffle on the 60-bit gram hash, the join back is an
  * equi-join on the same key (no re-partition: the aggregate output
  * is already hash-partitioned by `g`), and the only windows run
  * over constant-size batch summaries (q152: `Batches` rows).
  */
object Novelty {

  /** Word-shingle width. 8 matches the q149 source-overlap unit (a
    * long-enough span that sharing it implies copying, not idiom). */
  val Shingle = 8

  /** Growth-curve resolution: documents are split by id into this
    * many equal-width ingest batches. */
  val Batches = 10

  /** Default result size of [[noveltyScore]]. */
  val TopK = 15

  /** Distinct-within-doc 8-gram hash pairs: the shared base relation.
    * Tokenizer subtree bound to a column first (codegen hygiene —
    * see [[TextOps.shinglesFromTokens]]). */
  private def gramPairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        explode(TextOps.shingleHashesFromTokens(col("toks"), Shingle))
          .as("g"))

  /** The shared DuckDB rendering of the per-doc distinct 8-gram hash
    * list (mirrors [[gramPairs]]; same shape as q149's). */
  private def grams8Sql: String = {
    val tokSql = TextOps.tokSql()
    s"""list_distinct(list_transform(
       |  CASE WHEN len($tokSql) < $Shingle
       |       THEN [COALESCE(array_to_string($tokSql, ' '), '')]
       |       ELSE list_transform(
       |              generate_series(1, len($tokSql) - ${Shingle - 1}),
       |              i -> array_to_string(($tokSql)[i:i+${Shingle - 1}], ' '))
       |  END,
       |  s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))""".stripMargin
  }

  /** q151: rank documents by how derivative they are. For each doc:
    * `n_grams` distinct 8-grams, `n_exclusive` of them appearing in
    * NO other document, `n_first` where this doc is the canonical
    * first owner (min doc_id), and `novelty` = exclusive share.
    * Lowest-novelty docs first — the drop list. */
  def noveltyScore(spark: SparkSession, sfDir: String): DataFrame =
    noveltyScore(spark, sfDir, TopK)

  def noveltyScore(spark: SparkSession, sfDir: String,
      k: Int): DataFrame = {
    val grams = gramPairs(spark, sfDir).pin() // feeds both sides
    val owner = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("df"))
    // merge hint: without it the static planner BROADCASTS the
    // checkpointed gram relation (its LogicalRDD stats under-report
    // the widest relation in the query) — the exact opposite of the
    // co-partitioned equi-join this line always claimed, and AQE
    // cannot demote a checkpoint-fed broadcast (the q27/q194
    // mechanism). With the hint the join rides the agg's own
    // hash-partitioning on g.
    grams.hint("merge").join(owner, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_exclusive"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_first"))
      .select(col("doc_id"), col("n_grams"), col("n_exclusive"),
        col("n_first"),
        round(col("n_exclusive").cast("double") / col("n_grams"), 6)
          .as("novelty"))
      .orderBy(col("novelty"), col("doc_id"))
      .limit(k)
  }

  val noveltyScoreSql: String =
    s"""WITH g AS (
      |  SELECT doc_id, unnest($grams8Sql) AS g FROM documents),
      |owner AS (
      |  SELECT g, MIN(doc_id) AS first_doc, COUNT(*) AS df
      |  FROM g GROUP BY g),
      |per_doc AS (
      |  SELECT x.doc_id,
      |    COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN o.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_exclusive,
      |    CAST(SUM(CASE WHEN o.first_doc = x.doc_id THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_first
      |  FROM g x JOIN owner o USING (g)
      |  GROUP BY x.doc_id)
      |SELECT doc_id, n_grams, n_exclusive, n_first,
      |  ROUND(CAST(n_exclusive AS DOUBLE) / n_grams, 6) AS novelty
      |FROM per_doc
      |ORDER BY novelty, doc_id
      |LIMIT $TopK""".stripMargin

  /** q152: the vocabulary-saturation (Heaps'-law) curve. Documents
    * are split by id into [[Batches]] equal-width ingest batches;
    * each gram is attributed to its FIRST batch (min over batches is
    * the batch of the min doc_id — batch is monotone in id). Per
    * batch: docs, gram instances, first-seen grams, the cumulative
    * vocabulary, and the new-gram ratio — the marginal-value-of-data
    * curve. The cumulative window runs over [[Batches]] rows
    * (constant size), never over the corpus. */
  def gramSaturation(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max(col("doc_id")).as("max_id"))
    val batchOf = least(lit(Batches - 1),
      expr(s"doc_id * $Batches DIV (max_id + 1)"))
    val docBatch = docs.select(col("doc_id"))
      .crossJoin(broadcast(maxId))
      .select(col("doc_id"), batchOf.as("batch"))
    val pairs = gramPairs(spark, sfDir)
      .crossJoin(broadcast(maxId))
      .select(col("doc_id"), col("g"), batchOf.as("batch"))
      .pin() // feeds first-seen and instance counts
    val newPerBatch = pairs.groupBy(col("g"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_new_grams"))
    val instPerBatch = pairs.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_gram_instances"))
    val docsPerBatch = docBatch.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPerBatch
      .join(instPerBatch, Seq("batch"))
      .join(newPerBatch, Seq("batch"), "left")
      .select(col("batch"), col("n_docs"), col("n_gram_instances"),
        coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"))
      .withColumn("cum_unique_grams", sum(col("n_new_grams")).over(w))
      .withColumn("new_ratio",
        round(col("n_new_grams").cast("double") / col("n_gram_instances"), 6))
      .orderBy(col("batch"))
  }

  val gramSaturationSql: String =
    s"""WITH mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
      |db AS (
      |  SELECT doc_id,
      |    LEAST(${Batches - 1}, (doc_id * $Batches) // (max_id + 1)) AS batch
      |  FROM documents, mx),
      |g AS (
      |  SELECT doc_id,
      |    LEAST(${Batches - 1}, (doc_id * $Batches) // (max_id + 1)) AS batch,
      |    unnest($grams8Sql) AS g
      |  FROM documents, mx),
      |newb AS (
      |  SELECT batch, COUNT(*) AS n_new_grams FROM (
      |    SELECT g, MIN(batch) AS batch FROM g GROUP BY g)
      |  GROUP BY batch),
      |inst AS (
      |  SELECT batch, COUNT(*) AS n_gram_instances FROM g GROUP BY batch),
      |docs AS (SELECT batch, COUNT(*) AS n_docs FROM db GROUP BY batch)
      |SELECT d.batch, d.n_docs, i.n_gram_instances,
      |  CAST(COALESCE(n.n_new_grams, 0) AS BIGINT) AS n_new_grams,
      |  CAST(SUM(COALESCE(n.n_new_grams, 0)) OVER
      |    (ORDER BY d.batch ROWS BETWEEN UNBOUNDED PRECEDING AND
      |     CURRENT ROW) AS BIGINT) AS cum_unique_grams,
      |  ROUND(CAST(COALESCE(n.n_new_grams, 0) AS DOUBLE)
      |    / i.n_gram_instances, 6) AS new_ratio
      |FROM docs d
      |JOIN inst i USING (batch)
      |LEFT JOIN newb n USING (batch)
      |ORDER BY d.batch""".stripMargin
}
