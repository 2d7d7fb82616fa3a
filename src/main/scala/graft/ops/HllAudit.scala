package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HyperLogLog++ audit — Spark's native `approx_count_distinct`
  * (Heule et al. 2013) measured against the exact answer it
  * approximates, per group: the q89 hand-built HLL proves the sketch
  * MATH under the oracle; this puts the ENGINE's production sketch
  * under an error CONTRACT, because the decision a pipeline actually
  * makes — "is approx good enough to replace the exact shuffle?" —
  * needs the observed error, not the textbook bound.
  *
  * The published answer is the EXACT per-source distinct-token count
  * (DuckDB-verifiable); the sketch runs in the SAME aggregation pass
  * and the query HARD-ASSERTS every group's relative error within
  * [[MaxRelErr]] — rsd is configured at [[Rsd]], so a per-group
  * error beyond 3 standard deviations fails the query loudly rather
  * than silently shipping a broken sketch. (The approx value itself
  * is engine-specific and deliberately NOT a published column — the
  * contract is, via the assert.)
  *
  * Scale shape: both aggregates ride ONE partial-agg'd pass —
  * HLL registers merge map-side; the exact count shuffles distinct
  * (source, token) pairs. At 100 TB the audit is what justifies
  * dropping the exact path: run both once on a sample window, assert
  * the contract, then ship sketch-only.
  */
object HllAudit {

  /** Configured relative standard deviation for the sketch. */
  val Rsd = 0.02
  /** Contract: observed per-group relative error ≤ 3·rsd. */
  val MaxRelErr = 3 * Rsd

  /** q196: exact distinct tokens per source, with the engine HLL
    * audited in-query against it. */
  def distinctAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
    val both = toks.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("n_distinct"),
        approx_count_distinct(col("tok"), Rsd).as("n_approx"))
      .orderBy(col("source"))
    // one execution serves both the contract check and the answer
    val pinned = both.pin()
    val rows = pinned.collect() // group-cardinality-bounded (≤ #sources)
    require(rows.nonEmpty, "audit needs at least one group")
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      val relErr = math.abs(approx - exact) / exact
      require(relErr <= MaxRelErr,
        s"HLL contract broken for ${r.getString(0)}: " +
          s"exact=$exact approx=$approx relErr=$relErr > $MaxRelErr")
    }
    pinned.select(col("source"), col("n_distinct"))
  }

  /** DuckDB oracle: the exact distinct count (the published answer;
    * the sketch contract lives in the query's assert). */
  val distinctAuditSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH toks AS (
      |  SELECT source, unnest($tokSql) AS tok FROM documents)
      |SELECT source, COUNT(DISTINCT tok) AS n_distinct
      |FROM toks GROUP BY source ORDER BY source""".stripMargin
  }
}
