package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shingle-containment detection — the ASYMMETRIC dedup member
  * (Broder 1997 distinguishes resemblance from CONTAINMENT:
  * |A∩B|/|B|): a short document quoted wholesale inside a longer one
  * has low Jaccard (the q23/q24 family never fires) but containment
  * ≈ 1 — the quote-inclusion / boilerplate-wrapper shape that
  * inflates LLM training loss on the contained text. q81/q156 find
  * repeated SPANS; this scores whole-document inclusion and names
  * which side is the quote.
  *
  * Detection: distinct 3-shingle inverted index, df-capped (a
  * shingle appearing in more than [[DfCap]] docs carries no
  * discrimination and would quadratically inflate the candidate
  * join — the q81/q102 discipline; the cap is part of the DECLARED
  * metric and the oracle applies the same cap), ordered candidate
  * pairs from shared shingles, containment = shared / |contained|,
  * reported at ≥ [[Threshold]] with a [[MinShingles]] floor (a
  * 2-shingle doc "contained" anywhere is noise, not signal).
  *
  * Planted truth: every id%8==0 doc re-ships as its own first-half
  * token slice (slot-5 planted offset) — its shingle set is a strict subset of the
  * original's, so the detector must recover the pair (and the census
  * counts prove it did).
  *
  * Scale shape: the index carries (shingle, doc_id) longs; the df cap
  * bounds each shingle's posting list, so the candidate join emits at
  * most df² pairs per shingle — never all-pairs. The df and
  * per-doc-size relations are corpus-sized, so they join by key
  * (co-partitioned shuffles), NOT by broadcast. Text never crosses
  * an exchange.
  */
object Containment {

  val DfCap = 16
  val Threshold = 0.9
  val MinShingles = 5

  /** documents ∪ first-half slices of id%8==0 (slot-5 offset). */
  private[graft] def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 5, "q194 containment corpus")
    val d = Tables.documents(spark, sfDir)
    val toks = TextOps.tokens(col("text"))
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(8)) === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            (size(toks).cast("int") / lit(2)).cast("int"))).as("text")))
  }

  private[graft] val corpusCte = {
    val tokSql = TextOps.tokSql()
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(5)},
      |    COALESCE(array_to_string(($tokSql)[1:len($tokSql) // 2], ' '), '')
      |  FROM documents WHERE doc_id % 8 = 0)""".stripMargin
  }

  /** q194: containment census — ordered pairs (contained, container)
    * at containment ≥ 0.9, rolled up by the contained doc's origin
    * (planted slice vs organic). */
  def containmentCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 5, "q194 containment corpus")
    // bind the token array BEFORE shingling — shinglesFromTokens
    // references its input 3x, and inlining the tokenizer there
    // triplicates the subtree (the TextOps-documented trap)
    val sh = corpus(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.shingleHashesFromTokens(col("toks"))).as("sh"))
      .distinct()
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // the capped index is consumed THREE times (sizes + both sides of
    // the candidate self-join); materialize it once — the in-process
    // analogue of the stored inverted index a production run keeps
    val kept = sh.join(df.filter(col("df") <= DfCap), Seq("sh"))
      .select(col("doc_id"), col("sh"))
      .pin()
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // merge hint: `kept` is a pinned LogicalRDD whose
    // inherited stats UNDER-report the index, so the static planner
    // broadcast it into its own self-join (measured at the staged 30×
    // corpus: the x10→x30 leg grew 5.5× on 3× data, the driver
    // re-collecting the 30× index). AQE cannot demote a broadcast fed
    // straight from a checkpoint (no shuffle stage to re-measure) —
    // same mechanism as the q27 band join, same fix: shuffle both
    // sides once on `sh`, the linear shape the scaladoc claims.
    val shared = kept.as("a").join(kept.as("b").hint("merge"), Seq("sh"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("contained"), col("b.doc_id").as("container"))
      .agg(count(lit(1)).as("shared"))
    val pairs = shared
      .join(sizes.withColumnRenamed("doc_id", "contained"), Seq("contained"))
      .filter(col("n_sh") >= MinShingles)
      .withColumn("containment",
        round(col("shared").cast("double") / col("n_sh"), 6))
      .filter(col("containment") >= Threshold)
    pairs
      .withColumn("origin",
        when(col("contained") >= off, lit("planted_slice"))
          .otherwise(lit("organic")))
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("contained")).as("n_contained_docs"),
        round(sum(col("containment").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 6).as("avg_containment"))
      .orderBy(col("origin"))
  }

  /** DuckDB oracle: same index, cap, and ratio CTE-for-CTE (shingle
    * rendering single-sourced from [[Dedup.shingleSql]]). */
  val containmentCensusSql: String =
    s"""WITH $corpusCte,
      |sh0 AS (
      |  SELECT DISTINCT doc_id, unnest(${Dedup.shingleSql}) AS sh
      |  FROM corpus),
      |dfs AS (SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY sh),
      |kept AS (
      |  SELECT s.doc_id, s.sh FROM sh0 s JOIN dfs d ON s.sh = d.sh
      |  WHERE d.df <= $DfCap),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS contained, b.doc_id AS container,
      |    COUNT(*) AS shared
      |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT s.contained, s.container,
      |    ROUND(CAST(s.shared AS DOUBLE) / z.n_sh, 6) AS containment
      |  FROM shared s JOIN sizes z ON s.contained = z.doc_id
      |  WHERE z.n_sh >= $MinShingles
      |    AND ROUND(CAST(s.shared AS DOUBLE) / z.n_sh, 6) >= $Threshold)
      |SELECT CASE WHEN contained >= ${Planted.offsetSql(5)} THEN 'planted_slice'
      |            ELSE 'organic' END AS origin,
      |  COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT contained) AS n_contained_docs,
      |  ROUND(CAST(SUM(CAST(containment AS DECIMAL(28,6))) AS DOUBLE)
      |    / COUNT(*), 6) AS avg_containment
      |FROM pairs GROUP BY origin ORDER BY origin""".stripMargin
}
