package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis suite over the `documents` table — the per-document
  * scalar stage of a training-data pipeline: language ID, quality
  * scoring, token counting, fingerprinting. All single-pass scans
  * with codegen'd expressions; aggregations are partial-agg friendly
  * (groupBy on low-cardinality keys).
  *
  * The oracle SQL for language ID / quality is GENERATED from the
  * same [[TextOps.langProfiles]] constants the Spark expressions use,
  * so the two can never drift.
  */
object TextAnalysis {

  private val tokSql = TextOps.tokSql()

  /** Language-ID confusion matrix: actual lang × predicted lang. */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), TextOps.langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))

  val langIdConfusionSql: String = {
    val scores = TextOps.langProfiles.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_intersect(toks, $arr)) AS s_$lang"
    }.mkString(",\n      ")
    val mx = TextOps.langProfiles.map(p => s"s_${p._1}").mkString("GREATEST(", ", ", ")")
    val cases = TextOps.langProfiles
      .map(p => s"WHEN mx > 0 AND s_${p._1} = mx THEN '${p._1}'")
      .mkString("\n        ")
    s"""WITH scored AS (
      |  SELECT *, $mx AS mx FROM (
      |    SELECT lang,
      |      ${scores.replace("toks", tokSql)}
      |    FROM documents)),
      |pred AS (
      |  SELECT lang, CASE $cases ELSE 'und' END AS pred FROM scored)
      |SELECT lang, pred, COUNT(*) AS n FROM pred
      |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
  }

  /** Quality-score rollup per source: exact-decimal mean of the
    * bounded heuristic score. */
  def qualityBySource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), TextOps.qualityScore(col("text")).as("q"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("q").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_quality"),
        min(col("q")).as("min_quality"),
        max(col("q")).as("max_quality"))
      .orderBy(col("source"))

  val qualityBySourceSql: String = {
    val stop = TextOps.langProfiles.head._2.map(w => s"'$w'")
      .mkString("[", ", ", "]")
    s"""WITH q AS (
      |  SELECT source, ROUND((
      |      LEAST(length(text) / 500.0, 1.0)
      |      + CASE WHEN length(text) > 0
      |             THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE)
      |             ELSE 0.0 END
      |      + LEAST(CASE WHEN len($tokSql) > 0
      |              THEN len(list_filter($tokSql, t -> list_contains($stop, t)))
      |                   / CAST(len($tokSql) AS DOUBLE) * 4.0
      |              ELSE 0.0 END, 1.0)
      |    ) / 3.0, 6) AS q
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
      |  MIN(q) AS min_quality, MAX(q) AS max_quality
      |FROM q GROUP BY source ORDER BY source""".stripMargin
  }

  /** Token-count statistics per language. */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), TextOps.tokenCount(col("text")).as("nt"),
        TextOps.tokenCountBpe(col("text")).as("bpe"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        max(col("nt")).cast("long").as("max_tokens"),
        round(sum(col("nt")).cast("double") / count(lit(1)), 2)
          .as("avg_tokens"),
        sum(col("bpe")).as("total_bpe_tokens"))
      .orderBy(col("lang"))

  val tokenStatsSql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS total_tokens, CAST(MAX(nt) AS BIGINT) AS max_tokens,
      |  ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 2) AS avg_tokens,
      |  CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens
      |FROM (SELECT lang, len($tokSql) AS nt,
      |        ${TextOps.tokenCountBpeSql(tokSql)} AS bpe
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Document fingerprints (rolling content identity) for a key slice. */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val fingerprintsSql: String =
    s"""SELECT doc_id,
      |  ('0x' || substr(md5(array_to_string($tokSql, ' ')), 1, 15))::BIGINT AS fp
      |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin

  /** Deterministic text-embedding featurizer (P5 stand-in) exploded
    * to (doc_id, dim, value) — verifies the full hash-bucket → signed
    * count → L2-normalize chain per dimension. */
  def featurized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id"),
        posexplode(graft.functions.Embeddings.featurize(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("dim"),
        round(col("col"), 6).as("v"))
      .orderBy(col("doc_id"), col("dim"))

  val featurizedSql: String = {
    val ctes = graft.functions.Embeddings.featurizeCtes(
      "(SELECT doc_id, text FROM documents WHERE doc_id < 10)",
      "doc_id", "text")
    s"""WITH $ctes
      |SELECT doc_id, i - 1 AS dim, ROUND(v[i], 6) AS v
      |FROM feat CROSS JOIN generate_series(1, 64) AS t(i)
      |ORDER BY doc_id, dim""".stripMargin
  }

  // ---- q118: Zipf tail-index estimation (Hill estimator) -----------

  /** Order statistics used by the Hill estimator (top-K frequencies
    * against the (K+1)-th as threshold; clamped to vocab−1 when the
    * vocabulary is smaller). */
  val HillK = 100

  /** q118: corpus-frequency power-law diagnostics — the Hill (1975)
    * tail-index estimator over the token frequency distribution,
    * α = 1 + k / Σ_{i≤k} ln(f_(i)/f_(k+1)). A training corpus whose
    * token frequencies stop looking Zipfian (α drifting from ≈2) is
    * the classic symptom of template/boilerplate contamination, so
    * this is a one-row corpus health check.
    *
    * Shape: one token-keyed partial-agg groupBy, then a
    * TakeOrderedAndProject of the top k+1 FREQUENCIES (101 rows,
    * constant) — the estimator never sorts the vocabulary globally.
    * Ties at the k-boundary are harmless: tied rows have equal
    * frequency, so the included multiset is deterministic either way
    * (and the tiebreak on token pins the assignment anyway). */
  def zipfTail(spark: SparkSession, sfDir: String): DataFrame = {
    val freq = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .pin() // feeds the corpus totals and the top-k cut
    val totals = freq.agg(count(lit(1)).as("vocab"),
      sum(col("f")).as("n_tokens"))
    val top = freq.orderBy(col("f").desc, col("w")).limit(HillK + 1)
      .pin() // threshold row and numerator share the cut
    val thr = top.agg(min(col("f")).cast("double").as("f_thr"),
      (count(lit(1)) - 1).as("k"))
    top.crossJoin(broadcast(thr))
      .filter(col("f").cast("double") > col("f_thr"))
      .select(col("f"), col("f_thr"), col("k"),
        round(log(col("f").cast("double") / col("f_thr")), 9).as("lf"))
      .groupBy(col("f_thr"), col("k"))
      .agg(round(lit(1.0) + col("k")
        / sum(col("lf").cast("decimal(28,12)")).cast("double"), 6)
        .as("alpha"))
      .crossJoin(broadcast(totals))
      .select(col("vocab"), col("n_tokens"), col("k"),
        col("f_thr").cast("long").as("f_thr"), col("alpha"))
  }

  val zipfTailSql: String =
    s"""WITH freq AS (
      |  SELECT tok AS w, COUNT(*) AS f
      |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
      |  GROUP BY 1),
      |totals AS (
      |  SELECT COUNT(*) AS vocab, CAST(SUM(f) AS BIGINT) AS n_tokens FROM freq),
      |top AS (
      |  SELECT f FROM freq ORDER BY f DESC, w LIMIT ${HillK + 1}),
      |thr AS (
      |  SELECT CAST(MIN(f) AS DOUBLE) AS f_thr, COUNT(*) - 1 AS k
      |  FROM top),
      |est AS (
      |  SELECT f_thr, k,
      |    ROUND(1.0 + k / CAST(SUM(CAST(
      |      ROUND(LN(CAST(f AS DOUBLE) / f_thr), 9)
      |      AS DECIMAL(28,12))) AS DOUBLE), 6) AS alpha
      |  FROM top CROSS JOIN thr
      |  WHERE CAST(f AS DOUBLE) > f_thr
      |  GROUP BY f_thr, k)
      |SELECT vocab, n_tokens, k, CAST(f_thr AS BIGINT) AS f_thr, alpha
      |FROM est CROSS JOIN totals""".stripMargin

  // ---- q144: encoding-damage (mojibake) detection -------------------

  /** The classic UTF-8-decoded-as-Latin-1/cp1252 damage fingerprints
    * (what ftfy calls "mojibake"): a multibyte UTF-8 sequence whose
    * bytes were re-interpreted as single-byte chars. 'Ã©' is é, 'Ã¼'
    * is ü, 'â€™' is a right single quote, 'â€”' an em-dash. Real web
    * crawls are full of these — every charset-misdeclared page
    * contributes — and a corpus that trains on them teaches the model
    * garbage orthography. */
  val MojibakeSignatures: Seq[String] = Seq("Ã©", "Ã¼", "â€™", "â€”")

  /** Deterministic damage plant: docs with `doc_id % 13 == 0` get all
    * 'e' double-encoded (the é-family damage), docs with
    * `doc_id % 17 == 0` get every space turned into a mis-decoded
    * em-dash. Mirrored verbatim in the oracle so both engines observe
    * the SAME corrupted corpus — the query under test is the DETECTOR. */
  private def plant(text: org.apache.spark.sql.Column, docId: org.apache.spark.sql.Column) = {
    val withE = when(docId % 13 === 0, replace(text, lit("e"), lit("Ã©")))
      .otherwise(text)
    when(docId % 17 === 0, replace(withE, lit(" "), lit("â€”")))
      .otherwise(withE)
  }

  /** q144: per-source encoding-damage audit — docs flagged, total
    * fingerprint hits, and hits per 10k chars. Detection counts
    * LITERAL signature occurrences via replace-length arithmetic
    * (`(len(s) - len(replace(s, sig, ''))) / len(sig)`) — exact, no
    * regex-dialect drift between engines, and a single codegen'd scan
    * per doc (the signature set is a compile-time constant folded
    * into the projection). At 100 TB this is one pass over text with
    * a ≤|sources|-row partial-agg rollup. */
  def mojibakeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        plant(col("text"), col("doc_id")).as("t"))
    val hits = MojibakeSignatures.map { sig =>
      (length(col("t")) - length(replace(col("t"), lit(sig), lit(""))))
        .divide(lit(sig.length))
    }.reduce(_ + _)
    docs.select(col("source"), hits.cast("long").as("hits"),
        length(col("t")).cast("long").as("chars"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("hits")).as("n_hits"),
        round(sum(col("hits")).cast("double") * 10000.0
          / sum(col("chars")).cast("double"), 6).as("hits_per_10k_chars"))
      .orderBy(col("source"))
  }

  val mojibakeAuditSql: String = {
    val hitExprs = MojibakeSignatures.map(sig =>
      s"(length(t) - length(replace(t, '$sig', ''))) // ${sig.length}")
      .mkString(" + ")
    s"""WITH planted AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 17 = 0 THEN replace(e_dam, ' ', 'â€”')
      |         ELSE e_dam END AS t
      |  FROM (SELECT doc_id, source,
      |          CASE WHEN doc_id % 13 = 0 THEN replace(text, 'e', 'Ã©')
      |               ELSE text END AS e_dam
      |        FROM documents)),
      |scored AS (
      |  SELECT source, length(t) AS chars, $hitExprs AS hits
      |  FROM planted)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |  CAST(SUM(hits) AS BIGINT) AS n_hits,
      |  ROUND(CAST(SUM(hits) AS DOUBLE) * 10000.0
      |    / CAST(SUM(chars) AS DOUBLE), 6) AS hits_per_10k_chars
      |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }
}
