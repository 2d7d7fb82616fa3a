package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixture budgeting — the step between corpus curation and
  * training: given per-domain token supplies, a global token budget,
  * and a temperature that flattens the natural distribution (the
  * multilingual-training reweighting, p_d ∝ n_d^α with α < 1), decide
  * how many tokens to take from each domain.
  *
  * The allocation is EXACT water-filling with supply caps: find the
  * water level λ such that Σ_d min(n_d, λ·w_d) = B (w_d = n_d^α).
  * Small domains get boosted by the temperature until their whole
  * supply is consumed (capped); the rest share the remaining budget
  * in proportion to their flattened weights. λ has a closed form per
  * "number of capped domains", and the right count is found with ONE
  * window pass over domains ordered by saturation ratio n_d/w_d —
  * no iteration, no driver loop.
  *
  * Scale: everything after the first groupBy runs on ONE ROW PER
  * DOMAIN (thousands at 100 TB, not billions); the only data-sized
  * operation is the token-count aggregation, which is a partial-agg
  * shuffle on the domain key. The domain-level window is a single
  * tiny exchange.
  *
  * Cross-engine float story: α = 0.5 so the weight is sqrt (IEEE
  * correctly rounded in both engines, unlike pow); weights are
  * rounded to 9 decimals and accumulated as DECIMAL(28,9) so every
  * running sum is exact and order-independent; λ candidates divide
  * one double by one double, so both engines branch identically.
  */
object Mixture {

  /** Fraction of the total corpus that fits the training budget. */
  val BudgetFrac = 0.95

  /** q93: per-domain token allocation under a 0.95·total budget with
    * sqrt-temperature flattening. `capped` marks domains whose whole
    * supply is consumed; `util` is allocation/supply. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val supply = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .withColumn("w", round(sqrt(col("n_tokens").cast("double")), 9))
      .withColumn("w_dec", col("w").cast("decimal(28,9)"))
      .withColumn("r", col("n_tokens").cast("double") / col("w"))

    // global scalars (total supply/weight → budget) via one aggregate
    // broadcast back — not a window; the only window left is the
    // ordered cum-sum over DOMAINS, whose cardinality is thousands at
    // 100 TB, not data-sized
    val totals = supply.agg(
      sum(col("n_tokens")).as("tot_n"),
      sum(col("w_dec")).as("tot_w"))
    val byRatio = Window.orderBy(col("r"), col("source"))
    val staged = supply.crossJoin(broadcast(totals))
      .withColumn("cum_n", sum(col("n_tokens")).over(byRatio))
      .withColumn("cum_w", sum(col("w_dec")).over(byRatio))
      .withColumn("b", col("tot_n").cast("double") * lit(BudgetFrac))
      // λ if every domain ordered ≤ this row is capped; the LAST row's
      // denominator is exactly 0 (all weight consumed) → null it out,
      // the feasibility filter drops it in both engines
      .withColumn("lam_k",
        when((col("tot_w") - col("cum_w")).cast("double") === 0.0, lit(null))
          .otherwise((col("b") - col("cum_n").cast("double")) /
            (col("tot_w") - col("cum_w")).cast("double")))
      .withColumn("r_next", lead(col("r"), 1).over(byRatio))
      .pin()

    // the water level: the unique feasible candidate — k capped
    // domains is consistent iff the k-th ratio is under λ_k and the
    // (k+1)-th is over it; k = 0 (nobody capped) iff B/W clears the
    // smallest ratio
    val lam0 = staged
      .agg((min(col("b")) / min(col("tot_w")).cast("double")).as("lam"),
        min(col("r")).as("r1"))
      .where(col("lam") < col("r1"))
      .select(col("lam"))
    val lamK = staged
      .where(col("r") <= col("lam_k") &&
        (col("r_next").isNull || col("lam_k") < col("r_next")))
      .agg(min(col("lam_k")).as("lam"))
      .where(col("lam").isNotNull)
    // the feasible candidate is mathematically unique; MIN over the
    // union (vs LIMIT 1) keeps the pick order-independent even at a
    // float boundary where both branches fire
    val lam = lam0.unionByName(lamK).agg(min(col("lam")).as("lam"))

    supply.crossJoin(broadcast(lam))
      .withColumn("alloc",
        least(col("n_tokens").cast("double"), col("lam") * col("w")))
      .select(
        col("source"),
        col("n_tokens"),
        round(col("alloc"), 6).as("alloc_tokens"),
        (col("r") <= col("lam")).as("capped"),
        round(col("alloc") / col("n_tokens").cast("double"), 6).as("util"))
      .orderBy(col("source"))
  }

  val tokenBudgetSql: String = {
    val tok = TextOps.tokSql()
    s"""WITH supply AS (
      |  SELECT source,
      |    CAST(SUM(len($tok)) AS BIGINT) AS n_tokens,
      |    ROUND(SQRT(CAST(SUM(len($tok)) AS DOUBLE)), 9) AS w
      |  FROM documents GROUP BY source),
      |staged AS (
      |  SELECT source, n_tokens, w,
      |    CAST(n_tokens AS DOUBLE) / w AS r,
      |    SUM(n_tokens) OVER (ORDER BY CAST(n_tokens AS DOUBLE) / w, source) AS cum_n,
      |    SUM(CAST(w AS DECIMAL(28,9))) OVER (ORDER BY CAST(n_tokens AS DOUBLE) / w, source) AS cum_w,
      |    SUM(n_tokens) OVER () AS tot_n,
      |    SUM(CAST(w AS DECIMAL(28,9))) OVER () AS tot_w,
      |    LEAD(CAST(n_tokens AS DOUBLE) / w, 1) OVER (ORDER BY CAST(n_tokens AS DOUBLE) / w, source) AS r_next
      |  FROM supply),
      |with_lam AS (
      |  SELECT *,
      |    CAST(tot_n AS DOUBLE) * $BudgetFrac AS b,
      |    CASE WHEN CAST(tot_w - cum_w AS DOUBLE) = 0 THEN NULL
      |         ELSE (CAST(tot_n AS DOUBLE) * $BudgetFrac - CAST(cum_n AS DOUBLE))
      |              / CAST(tot_w - cum_w AS DOUBLE) END AS lam_k
      |  FROM staged),
      |lam0 AS (
      |  SELECT b / CAST(tot_w AS DOUBLE) AS lam
      |  FROM with_lam
      |  WHERE b / CAST(tot_w AS DOUBLE) < (SELECT MIN(r) FROM with_lam)
      |  LIMIT 1),
      |lamk AS (
      |  SELECT MIN(lam_k) AS lam FROM with_lam
      |  WHERE r <= lam_k AND (r_next IS NULL OR lam_k < r_next)),
      |lam AS (
      |  SELECT MIN(lam) AS lam FROM (
      |    SELECT lam FROM lam0
      |    UNION ALL
      |    SELECT lam FROM lamk WHERE lam IS NOT NULL))
      |SELECT s.source, s.n_tokens,
      |  ROUND(LEAST(CAST(s.n_tokens AS DOUBLE), l.lam * s.w), 6) AS alloc_tokens,
      |  (CAST(s.n_tokens AS DOUBLE) / s.w <= l.lam) AS capped,
      |  ROUND(LEAST(CAST(s.n_tokens AS DOUBLE), l.lam * s.w)
      |        / CAST(s.n_tokens AS DOUBLE), 6) AS util
      |FROM supply s CROSS JOIN lam l
      |ORDER BY s.source""".stripMargin
  }

  // ---- q137: epoch oversampling plan -------------------------------

  /** Oversampling multiplier for the upsampled mixture: the plan
    * targets 2× the corpus document count. */
  val EpochFactor = 2L

  /** q137: epoch oversampling plan — turn mixture weights into an
    * EXECUTABLE duplication plan with exact integer counts. Targets
    * T = 2·|corpus| documents distributed ∝ sqrt(supply) (the q93
    * temperature), rounded to integers by LARGEST REMAINDER (Hamilton
    * apportionment: floor every quota, hand the leftover seats to the
    * biggest fractional parts, source-name tiebreak) so the per-source
    * targets sum to T EXACTLY. Each source's target becomes per-doc
    * repeat factors: base = target / n_docs for everyone, +1 for the
    * `target mod n_docs` lowest doc_ids — deterministic, no RNG, and
    * re-runnable to the same physical sample. The output row proves
    * the explode happened: n_out counts the physically emitted copies
    * and id_checksum = Σ doc_id · copies over the exploded relation.
    *
    * Shape: quotas live on one row per source (a 20-row window);
    * the duplication itself is a scan-local `explode(sequence())` —
    * repeat factors join back by source + id-rank, no shuffle carries
    * text, and at 100 TB the exploded relation streams straight to
    * the shard writer. */
  def epochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val supply = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val totals = supply.agg(
      sum(col("n_docs")).cast("long").as("tot_docs"),
      sum(round(sqrt(col("n_docs").cast("double")), 9)
        .cast("decimal(28,9)")).as("tot_w"))
    val quotas = supply.crossJoin(broadcast(totals))
      .withColumn("w", round(sqrt(col("n_docs").cast("double")), 9))
      .withColumn("t_target", (col("tot_docs") * lit(EpochFactor)).cast("double"))
      .withColumn("quota",
        col("t_target") * col("w") / col("tot_w").cast("double"))
      .withColumn("fl", floor(col("quota")).cast("long"))
      .withColumn("rem", round(col("quota") - col("fl"), 9))
    // leftover seats = T - Σ floor(quota); hand them to the largest
    // remainders (source tiebreak) — a ≤|sources|-row window
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    val seats = quotas.crossJoin(broadcast(
        quotas.agg((max(col("t_target")).cast("long")
          - sum(col("fl"))).as("leftover"))))
      .withColumn("seat_rank", row_number().over(wRem))
      .withColumn("target",
        col("fl") + when(col("seat_rank") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("target"))
    // per-doc repeat factors: base for all, +1 for the extra lowest ids
    val wId = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val repeats = d.join(broadcast(seats), Seq("source"))
      .withColumn("id_rank", row_number().over(wId))
      .withColumn("copies",
        expr("target div n_docs") // integral division, not double /
          + when(col("id_rank") <= col("target") % col("n_docs"), 1L)
            .otherwise(0L))
    // physically emit the copies, then prove conservation per source
    val exploded = repeats
      .filter(col("copies") > 0)
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
    exploded.groupBy(col("source"))
      .agg(count(lit(1)).as("n_out"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .join(broadcast(seats), Seq("source"))
      .select(col("source"), col("n_docs"), col("target"), col("n_out"),
        col("id_checksum"))
      .orderBy(col("source"))
  }

  val epochPlanSql: String =
    s"""WITH d AS (SELECT doc_id, source FROM documents),
      |supply AS (
      |  SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
      |totals AS (
      |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
      |    SUM(CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)), 9)
      |      AS DECIMAL(28,9))) AS tot_w
      |  FROM supply),
      |quotas AS (
      |  SELECT source, n_docs,
      |    CAST(tot_docs * $EpochFactor AS DOUBLE)
      |      * ROUND(sqrt(CAST(n_docs AS DOUBLE)), 9)
      |      / CAST(tot_w AS DOUBLE) AS quota,
      |    CAST(tot_docs * $EpochFactor AS BIGINT) AS t_target
      |  FROM supply CROSS JOIN totals),
      |fl AS (
      |  SELECT *, CAST(FLOOR(quota) AS BIGINT) AS fl,
      |    ROUND(quota - FLOOR(quota), 9) AS rem
      |  FROM quotas),
      |seats AS (
      |  SELECT source, n_docs, fl
      |    + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
      |        <= t_target - (SELECT CAST(SUM(fl) AS BIGINT) FROM fl)
      |      THEN 1 ELSE 0 END AS target
      |  FROM fl),
      |repeats AS (
      |  SELECT d.source, d.doc_id,
      |    target // s.n_docs
      |      + CASE WHEN ROW_NUMBER() OVER (PARTITION BY d.source
      |          ORDER BY d.doc_id) <= target % s.n_docs
      |        THEN 1 ELSE 0 END AS copies
      |  FROM d JOIN seats s ON d.source = s.source),
      |exploded AS (
      |  SELECT source, doc_id
      |  FROM repeats CROSS JOIN LATERAL
      |    unnest(generate_series(1, copies)) AS t(copy_idx)
      |  WHERE copies > 0)
      |SELECT e.source, s.n_docs, s.target,
      |  COUNT(*) AS n_out,
      |  CAST(SUM(e.doc_id) AS BIGINT) AS id_checksum
      |FROM exploded e
      |JOIN seats s ON e.source = s.source
      |GROUP BY e.source, s.n_docs, s.target
      |ORDER BY e.source""".stripMargin
}
