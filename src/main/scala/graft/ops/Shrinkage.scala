package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical-Bayes beta-binomial shrinkage (Robbins 1956; the
  * method-of-moments recipe Efron popularized) — the
  * hierarchical-estimation operator the statistics family still
  * lacked: a per-source keep-rate leaderboard ranks a 12-doc source's
  * 11/12 above a 10 000-doc source's 90.2%, which is exactly
  * backwards once sampling noise is priced in. EB fits a Beta(α, β)
  * prior to the OBSERVED rate dispersion (method of moments: the
  * prior is whatever makes the population's mean/variance match) and
  * publishes the posterior mean (kᵢ + α)/(nᵢ + α + β) — small
  * samples shrink hard toward the pooled mean, large samples barely
  * move, and the leaderboard stops rewarding noise.
  *
  * Determinism: observed rates are round-6 ratios of integer counts;
  * the moment sums accumulate in DECIMAL (q49 discipline); α/β round
  * to 9; the posterior means combine integer counts with the rounded
  * prior in double, rounded once at publish. A degenerate fit (zero
  * or over-dispersed variance ⇒ the moment equations have no positive
  * solution) publishes NULL shrunk rates — raw rates stand, loudly.
  *
  * Scale shape: one scoring scan partial-aggs to per-source (n, k);
  * everything after is arithmetic on the |sources|-row relation —
  * the prior fit is two moments of a tiny table, never a second
  * corpus pass.
  */
object Shrinkage {

  /** The shrinkage report of an (stratum, n, k) relation — the
    * estimator core, exposed for the spec's crafted cohorts. */
  private[graft] def ebOf(cells: DataFrame): DataFrame = {
    // pin the (tiny) rated relation: it feeds the moment fit AND the
    // published rows, and its upstream is the full scoring scan —
    // without the pin the corpus would tokenize+score twice
    val rated = cells.withColumn("raw_rate",
      round(col("k").cast("double") / col("n"), 6))
      .pin()
    // method-of-moments Beta fit over the observed rates
    val moments = rated.agg(
      count(lit(1)).cast("double").as("s"),
      sum(col("raw_rate").cast("decimal(28,6)")).cast("double").as("sr"),
      sum((col("raw_rate") * col("raw_rate")).cast("decimal(38,12)"))
        .cast("double").as("srr"))
      .select(col("s"), (col("sr") / col("s")).as("m"),
        ((col("srr") - col("sr") * col("sr") / col("s"))
          / (col("s") - 1.0)).as("v"))
      .select(col("m"), col("v"),
        when(col("v") > 0.0 && col("v") < col("m") * (lit(1.0) - col("m")),
          round((col("m") * (lit(1.0) - col("m")) / col("v") - 1.0)
            * col("m"), 9)).as("alpha"),
        when(col("v") > 0.0 && col("v") < col("m") * (lit(1.0) - col("m")),
          round((col("m") * (lit(1.0) - col("m")) / col("v") - 1.0)
            * (lit(1.0) - col("m")), 9)).as("beta"))
    rated.crossJoin(broadcast(moments))
      .select(col("stratum"), col("n"), col("k"), col("raw_rate"),
        round(col("m"), 6).as("pooled_rate"),
        col("alpha"), col("beta"),
        round((col("k") + col("alpha"))
          / (col("n") + col("alpha") + col("beta")), 6).as("shrunk_rate"))
      .orderBy(col("stratum"))
  }

  /** q221: per-source EB-shrunk quality keep rates (the q84 filter's
    * keep decision as the binomial outcome). */
  def ebKeepRates(spark: SparkSession, sfDir: String): DataFrame =
    ebOf(Curation.scoreDocs(Tables.documents(spark, sfDir))
      .groupBy(col("source").as("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("k")))

  val ebKeepRatesSql: String =
    s"""WITH ${Curation.scoreCtesSql},
      |cells AS (
      |  SELECT source AS stratum, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM s GROUP BY source),
      |rated AS (
      |  SELECT stratum, n, k,
      |    ROUND(CAST(k AS DOUBLE) / n, 6) AS raw_rate
      |  FROM cells),
      |mom AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(raw_rate AS DECIMAL(28,6))) AS DOUBLE) AS sr,
      |    CAST(SUM(CAST(raw_rate * raw_rate AS DECIMAL(38,12))) AS DOUBLE) AS srr
      |  FROM rated),
      |fit AS (
      |  SELECT m, v,
      |    CASE WHEN v > 0.0 AND v < m * (1.0 - m)
      |      THEN ROUND((m * (1.0 - m) / v - 1.0) * m, 9) END AS alpha,
      |    CASE WHEN v > 0.0 AND v < m * (1.0 - m)
      |      THEN ROUND((m * (1.0 - m) / v - 1.0) * (1.0 - m), 9) END AS beta
      |  FROM (SELECT sr / s AS m,
      |          (srr - sr * sr / s) / (s - 1.0) AS v
      |        FROM mom))
      |SELECT r.stratum, r.n, r.k, r.raw_rate,
      |  ROUND(f.m, 6) AS pooled_rate, f.alpha, f.beta,
      |  ROUND((r.k + f.alpha) / (r.n + f.alpha + f.beta), 6) AS shrunk_rate
      |FROM rated r CROSS JOIN fit f
      |ORDER BY r.stratum""".stripMargin
}
