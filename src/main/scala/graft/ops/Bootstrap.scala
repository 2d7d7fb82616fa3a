package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Poisson-bootstrap confidence intervals (Chamandy et al., Google
  * 2012, "Estimating Uncertainty for Massive Data Streams"; Efron
  * 1979 for the bootstrap itself) — the uncertainty-quantification
  * operator the point-estimate family lacks: q84 reports a mean
  * quality score per source, but a curation decision ("did src7's
  * quality really drop?") needs the sampling error of that mean. The
  * classic bootstrap resamples n rows WITH replacement B times —
  * impossible to do literally on a distributed corpus (each replicate
  * needs global coordination). The Poisson bootstrap is the
  * distributed reformulation: each row independently receives a
  * Poisson(1) weight per replicate (E[w]=1 reproduces n-ish resample
  * sizes), so replicate membership is a pure PER-ROW draw — the whole
  * procedure is one scan, an explode by B, and a partial-agg'd
  * weighted mean per (group, replicate).
  *
  * Determinism (the q179 discipline): the per-(doc, replicate) draw
  * is a seeded uniform (52 md5 bits) pushed through the Poisson(1)
  * inverse-CDF ladder with 10-decimal literal thresholds — identical
  * text in both engines, so every weight, every replicate mean, and
  * every percentile endpoint is bit-reproducible.
  *
  * Scale shape: the B-fold explode multiplies the SLIM scored rows
  * (ids + one double), never the text; replicate means partial-agg
  * map-side to |sources|·B rows; the CI percentiles ride that bounded
  * relation. At 100 TB this is exactly how production uncertainty
  * pipelines run (B ≈ 50–200 replicates of streaming sums).
  */
object Bootstrap {

  /** Bootstrap replicates. */
  val B = 64

  /** Seeded uniform in [0,1) — the [[DpRelease]] derivation, shared
    * so the two seeded operators cannot drift. */
  private[graft] def seededU(key: Column): Column = DpRelease.seededU(key)

  /** Poisson(1) CDF thresholds, 10-decimal literals (tail ≥ 9 lumped:
    * P ≈ 1.1e-6 — the draw is capped, identically in both engines). */
  val PoissonCdf: Seq[Double] = Seq(
    0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
    0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508,
    0.9999988748)

  private[graft] def poissonW(u: Column): Column =
    PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.size): Column) {
      case ((thr, k), elseC) => when(u < thr, k).otherwise(elseC)
    }

  /** q211: per-source mean quality score with a 95% Poisson-bootstrap
    * percentile CI and the bootstrap standard error. */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    // one scoring scan, materialized slim (the q207 pin): the base
    // relation feeds the point estimate AND the replicate explode
    val base = Curation.scoreDocs(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("source"), col("score"))
      .pin()
    val point = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      round(sum(col("score").cast("decimal(28,6)")).cast("double")
        / count(lit(1)), 6).as("mean_score"))
    val reps = base
      .select(col("doc_id"), col("source"), col("score"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("w", poissonW(seededU(
        concat(col("doc_id"), lit("|"), col("b")))))
    val rm = reps.groupBy(col("source"), col("b")).agg(
      sum(col("score").cast("decimal(20,6)") * col("w")).as("sw"),
      sum(col("w")).cast("long").as("nw"))
      .filter(col("nw") > 0)   // an empty resample contributes no mean
      .select(col("source"), col("b"),
        round(col("sw").cast("double") / col("nw"), 9).as("mb"))
    val ci = rm.groupBy(col("source")).agg(
      count(lit(1)).cast("double").as("nr"),
      round(expr("percentile(mb, 0.025)"), 6).as("ci_lo"),
      round(expr("percentile(mb, 0.975)"), 6).as("ci_hi"),
      sum(col("mb").cast("decimal(28,9)")).cast("double").as("sm"),
      sum((col("mb") * col("mb")).cast("decimal(38,18)")).cast("double")
        .as("smm"))
    point.join(ci, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_score"),
        col("ci_lo"), col("ci_hi"),
        round(sqrt((col("nr") * col("smm") - col("sm") * col("sm"))
          / (col("nr") * (col("nr") - 1.0))), 6).as("se_boot"))
      .orderBy(col("source"))
  }

  val bootstrapCiSql: String = {
    val ladder = PoissonCdf.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString("\n      |      ")
    s"""WITH ${Curation.scoreCtesSql},
      |base AS (SELECT doc_id, source, score FROM s),
      |pt AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    ROUND(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
      |      / COUNT(*), 6) AS mean_score
      |  FROM base GROUP BY source),
      |reps AS (
      |  SELECT source, b, score,
      |    CASE $ladder
      |      ELSE ${PoissonCdf.size} END AS w
      |  FROM (
      |    SELECT source, b, score,
      |      ('0x' || substr(md5(doc_id || '|' || b), 1, 13))::BIGINT
      |        / ${DpRelease.Denom.toLong}.0 AS u
      |    FROM base CROSS JOIN generate_series(0, ${B - 1}) AS t(b))),
      |rm AS (
      |  SELECT source, b,
      |    ROUND(CAST(SUM(CAST(score AS DECIMAL(20,6)) * w) AS DOUBLE)
      |      / SUM(w), 9) AS mb
      |  FROM reps GROUP BY source, b HAVING SUM(w) > 0),
      |ci AS (
      |  SELECT source, CAST(COUNT(*) AS DOUBLE) AS nr,
      |    ROUND(quantile_cont(mb, 0.025), 6) AS ci_lo,
      |    ROUND(quantile_cont(mb, 0.975), 6) AS ci_hi,
      |    CAST(SUM(CAST(mb AS DECIMAL(28,9))) AS DOUBLE) AS sm,
      |    CAST(SUM(CAST(mb * mb AS DECIMAL(38,18))) AS DOUBLE) AS smm
      |  FROM rm GROUP BY source)
      |SELECT pt.source, pt.n_docs, pt.mean_score, ci.ci_lo, ci.ci_hi,
      |  ROUND(sqrt((nr * smm - sm * sm) / (nr * (nr - 1.0))), 6) AS se_boot
      |FROM pt JOIN ci USING (source)
      |ORDER BY source""".stripMargin
  }
}
