package graft.ops

import graft.Tables
import graft.functions.TDigest
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Quantile-sketch audit — the q196 discipline applied to the
  * t-digest ([[graft.functions.TDigest]]): the published answer is
  * the EXACT per-group percentile set (DuckDB-verifiable); the sketch
  * runs in the SAME aggregation pass and the query HARD-ASSERTS each
  * estimate lands between the exact quantiles at φ ± [[RankEps]] —
  * a rank-error contract with ≥4× margin over the digest's
  * worst-case mid-quantile bound (2·q(1−q)/δ·N ≈ 0.5% of N at
  * δ=100), so it holds under any merge order even though the
  * estimate itself is partitioning-dependent. One honesty caveat:
  * the envelope compares VALUES, which is stricter than the digest's
  * rank guarantee when a single value carries ≥ 2ε of a group's mass
  * (the envelope collapses to a point the interpolated estimate may
  * legitimately miss). That shape cannot occur on the declared
  * column (l_extendedprice is near-unique); TDigestSpec covers
  * atom-heavy data with the rank-interval metric the sketch actually
  * guarantees.
  *
  * Scale shape: the digest is why this query exists — constant-size
  * mergeable state (≤ ~2δ centroids), map-side partial merges, one
  * shuffle row per group, while the exact `percentile` pays a
  * per-group sort. At 100 TB the audit runs both on a sample window,
  * asserts the contract, then the pipeline ships sketch-only; the
  * exact side here is both that justification and the oracle's
  * anchor.
  */
object QuantileSketch {

  /** Contract half-width in rank space: estimate must lie within the
    * exact [φ−ε, φ+ε] quantile envelope. */
  val RankEps = 0.02

  /** The single aggregation pass both answer and contract ride —
    * exposed pre-checkpoint so PlanSpec can pin its shape. */
  private[graft] def auditAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val td = udaf(TDigest.Agg, Encoders.scalaDouble)
    // one exact-percentile buffer serves all nine probes (the three
    // published quantiles + both envelope edges per quantile, derived
    // from RankEps so the contract and the probes can't drift)
    val probes = Seq(0.5, 0.9, 0.99).flatMap(phi =>
      Seq(phi - RankEps, phi, math.min(1.0, phi + RankEps)))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"percentile(l_extendedprice, array(${probes.mkString(",")}))")
          .as("ex"),
        td(col("l_extendedprice")).as("est"))
  }

  /** q204: per-returnflag l_extendedprice percentiles — exact
    * published, t-digest audited in-pass. */
  def tdigestAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = auditAgg(spark, sfDir)
    val pinned = agg.pin() // one execution, both uses
    val rows = pinned.collect() // group-cardinality-bounded (3 flags)
    require(rows.nonEmpty, "audit needs at least one group")
    rows.foreach { r =>
      val ex = r.getSeq[Double](2)
      val est = r.getStruct(3)
      for (((lo, hi), (e, tag)) <- Seq((ex(0), ex(2)), (ex(3), ex(5)),
          (ex(6), ex(8))).zip(Seq((est.getDouble(0), "p50"),
          (est.getDouble(1), "p90"), (est.getDouble(2), "p99"))))
        require(e >= lo && e <= hi,
          s"t-digest contract broken for ${r.getString(0)} $tag: " +
            s"$e outside exact [$lo, $hi]")
    }
    pinned.select(col("l_returnflag"), col("n_rows"),
      round(element_at(col("ex"), 2), 6).as("p50"),
      round(element_at(col("ex"), 5), 6).as("p90"),
      round(element_at(col("ex"), 8), 6).as("p99"))
      .orderBy(col("l_returnflag"))
  }

  /** DuckDB oracle: the exact published percentiles (the sketch
    * contract lives in the query's assert, as in q196). */
  val tdigestAuditSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
}
