package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
  * score every document by how much more likely its tokens are under
  * a TARGET distribution than under the RAW corpus distribution, then
  * keep the highest-weight documents. This is the hashed-n-gram
  * importance-weighting recipe used to select web data that "looks
  * like" a high-quality target corpus, reduced to unigram features
  * with add-1 smoothing so both engines compute bit-identical scores.
  *
  * Here the target is the in-corpus English slice (`lang = 'en'`) and
  * the raw distribution is the whole corpus: w(doc) = mean over
  * tokens of [ln p_target(tok) − ln p_raw(tok)], both add-1-smoothed
  * over the SHARED vocabulary, so a token never seen in the target
  * still gets a finite (strongly negative) ratio.
  *
  * Scale shape: ONE groupBy builds both models (the target count is a
  * conditional sum inside the same aggregate — no second scan, no
  * second shuffle), and the scoring join on `tok` carries no
  * broadcast hint: the vocabulary is corpus-sized at 100 TB (billions
  * of distinct tokens), so a shuffle join is the correct shape and
  * AQE may still broadcast a small measured side. Determinism: each
  * ln rounds to 9, per-doc sums accumulate in DECIMAL.
  */
object Dsir {

  val TargetLang = "en"

  /** q99: top-10 documents by mean importance log-ratio — the docs
    * most "target-like" under the unigram DSIR weighting. */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    // the token stream feeds the model build AND the scoring join —
    // materialize once
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .pin()
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("c_tgt"))
    val stats = vocab.agg(
      sum(col("c_raw")).cast("double").as("n_raw"),
      sum(col("c_tgt")).cast("double").as("n_tgt"),
      count(lit(1)).cast("double").as("vsize"))
    val scored = toks.join(vocab, Seq("tok")) // vocab-sized: no hint
      .crossJoin(broadcast(stats))
      .withColumn("lw",
        round(log((col("c_tgt").cast("double") + 1.0)
          / (col("n_tgt") + col("vsize"))), 9)
          - round(log((col("c_raw").cast("double") + 1.0)
            / (col("n_raw") + col("vsize"))), 9))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lw").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_log_ratio"))
      .orderBy(col("avg_log_ratio").desc, col("doc_id"))
      .limit(10)
  }

  val dsirWeightsSql: String = {
    val tok = TextOps.tokSql()
    s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest($tok) AS tok FROM documents),
      |vocab AS (
      |  SELECT tok, COUNT(*) AS c_raw,
      |    SUM(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS c_tgt
      |  FROM toks GROUP BY tok),
      |stats AS (
      |  SELECT CAST(SUM(c_raw) AS DOUBLE) AS n_raw,
      |    CAST(SUM(c_tgt) AS DOUBLE) AS n_tgt,
      |    CAST(COUNT(*) AS DOUBLE) AS vsize
      |  FROM vocab),
      |scored AS (
      |  SELECT t.doc_id, t.lang,
      |    ROUND(ln((CAST(v.c_tgt AS DOUBLE) + 1.0) / (s.n_tgt + s.vsize)), 9)
      |      - ROUND(ln((CAST(v.c_raw AS DOUBLE) + 1.0) / (s.n_raw + s.vsize)), 9)
      |      AS lw
      |  FROM toks t JOIN vocab v USING (tok) CROSS JOIN stats s)
      |SELECT doc_id, lang, COUNT(*) AS n_tokens,
      |  ROUND(CAST(SUM(CAST(lw AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_log_ratio
      |FROM scored GROUP BY doc_id, lang
      |ORDER BY avg_log_ratio DESC, doc_id
      |LIMIT 10""".stripMargin
  }
}
