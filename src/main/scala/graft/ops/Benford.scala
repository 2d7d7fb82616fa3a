package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benford first-significant-digit audit (Newcomb 1881 / Benford
  * 1938; Nigrini's forensic-accounting standard) — the data-quality
  * census the contract family (q186) can't express as a rule:
  * naturally-occurring multi-scale amounts follow P(d) = log10(1+1/d),
  * and a feed whose first-digit histogram snaps away from that line
  * (flat from a synthetic generator, spiked from a unit bug or
  * truncation) is corrupt in a way no null/range check sees. Audited
  * per order-priority stratum over order totals, with the χ²
  * goodness-of-fit statistic against the Benford expectation.
  *
  * Determinism: the first digit is NEVER extracted via float
  * formatting or log10 (both engine-divergent at power-of-ten
  * boundaries); amounts are exact-decimal CENTS (round(x·100) — both
  * engines round half-away-from-zero on positive doubles), and the
  * first digit is the leading character of the INTEGER's decimal
  * rendering — integer-to-string is exact everywhere. Benford
  * probabilities are 10-decimal literals; χ² combines integer counts
  * in double with engine-identical parenthesization.
  *
  * Scale shape: one partial-agg'd scan to (stratum, digit) counts —
  * ≤ 9 partials per stratum map-side; everything downstream is
  * arithmetic on a ≤ 9·|strata|-row relation (the per-stratum χ² sum
  * is a 9-row bounded window).
  */
object Benford {

  /** P(first digit = d) = log10(1 + 1/d), 10-decimal literals. */
  val BenfordP: Seq[Double] = Seq(
    0.3010299957, 0.1760912591, 0.1249387366, 0.0969100130,
    0.0791812460, 0.0669467896, 0.0579919470, 0.0511525224,
    0.0457574906)

  private def benfordExpr(digit: Column): Column =
    BenfordP.zipWithIndex.foldLeft(lit(0.0): Column) {
      case (acc, (p, i)) => when(digit === i + 1, p).otherwise(acc)
    }

  /** q214: per-priority Benford audit of order totals — observed vs
    * expected first-digit shares, per-digit χ² contributions, and the
    * stratum χ² (8 degrees of freedom; > 15.507 rejects at α=0.05). */
  def benfordAudit(spark: SparkSession, sfDir: String): DataFrame =
    auditOf(Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("priority"),
        col("o_totalprice").as("amount")))

  /** The audit over any (priority, amount) relation — exposed for the
    * spec's crafted digit and dense-grid cases. */
  private[graft] def auditOf(rows: DataFrame): DataFrame = {
    // validity is decided on the CENTS the digit rule reads — an
    // amount in (0, 0.005) rounds to zero cents and is excluded
    // consistently (filtering on the raw amount would admit it and
    // then silently drop its digit-0 row at the grid join)
    val valid = rows
      .select(col("priority"), round(col("amount") * 100).cast("long")
        .as("cents"))
      .filter(col("cents") > 0)
    val counts = valid
      .select(col("priority"),
        substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("priority"), col("digit"))
      .agg(count(lit(1)).as("n_d"))
    // dense digit grid over priorities WITH valid amounts: a digit
    // with zero observations still contributes n·p to χ² — absent
    // rows would understate it
    val grid = valid
      .select(col("priority")).distinct()
      .crossJoin(counts.sparkSession.range(1, 10)
        .select(col("id").cast("int").as("digit")))
    val byP = Window.partitionBy(col("priority"))
    val full = grid.join(counts, Seq("priority", "digit"), "left")
      .na.fill(0L, Seq("n_d"))
      .withColumn("n", sum(col("n_d")).over(byP))
      .withColumn("p_ben", benfordExpr(col("digit")))
      .withColumn("e_d", col("n") * col("p_ben"))
      .withColumn("chi2_part",
        (col("n_d") - col("e_d")) * (col("n_d") - col("e_d")) / col("e_d"))
    // the stratum χ² sums the ROUNDED-9 parts in DECIMAL — exact
    // under any row order (a raw double window sum would be
    // accumulation-order-dependent across engines)
    full.withColumn("cp", round(col("chi2_part"), 9))
      .select(col("priority"), col("digit"), col("n_d"),
        round(col("n_d").cast("double") / col("n"), 6).as("share"),
        col("p_ben"),
        col("cp").as("chi2_part"),
        round(sum(col("cp").cast("decimal(28,9)")).over(byP)
          .cast("double"), 6).as("chi2"))
      .orderBy(col("priority"), col("digit"))
  }

  val benfordAuditSql: String = {
    val ladder = BenfordP.zipWithIndex
      .map { case (p, i) => s"WHEN g.digit = ${i + 1} THEN $p" }
      .mkString("\n      |      ")
    s"""WITH valid AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE ROUND(o_totalprice * 100) > 0),
      |counts AS (
      |  SELECT priority,
      |    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
      |    COUNT(*) AS n_d
      |  FROM valid GROUP BY 1, 2),
      |grid AS (
      |  SELECT priority, digit
      |  FROM (SELECT DISTINCT priority FROM valid)
      |  CROSS JOIN generate_series(1, 9) AS t(digit)),
      |dense AS (
      |  SELECT g.priority, g.digit,
      |    CAST(COALESCE(c.n_d, 0) AS BIGINT) AS n_d,
      |    CASE $ladder
      |      ELSE 0.0 END AS p_ben
      |  FROM grid g LEFT JOIN counts c
      |    ON g.priority = c.priority AND g.digit = c.digit),
      |w AS (
      |  SELECT priority, digit, n_d, p_ben,
      |    SUM(n_d) OVER (PARTITION BY priority) AS n
      |  FROM dense),
      |x AS (
      |  SELECT priority, digit, n_d, n, p_ben,
      |    ROUND((n_d - n * p_ben) * (n_d - n * p_ben) / (n * p_ben), 9) AS cp
      |  FROM w)
      |SELECT priority, digit, n_d,
      |  ROUND(CAST(n_d AS DOUBLE) / n, 6) AS share,
      |  p_ben,
      |  cp AS chi2_part,
      |  ROUND(CAST(SUM(CAST(cp AS DECIMAL(28,9)))
      |    OVER (PARTITION BY priority) AS DOUBLE), 6) AS chi2
      |FROM x ORDER BY priority, digit""".stripMargin
  }
}
