package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q230: Good-Turing frequency-of-frequencies audit — "how much of
  * this corpus's probability mass belongs to words we have NOT seen
  * yet?" (Good 1953; Gale & Sampson 1995's simple Good-Turing is the
  * smoothed variant; this query reports the raw Turing estimates the
  * smoothing starts from). The corpus-planning read: `p_unseen` =
  * N₁/N is the chance the NEXT token drawn is a brand-new vocabulary
  * item — the saturation complement to q152's batch-ordered novelty
  * curve (which measures arrival order; this is order-free), and the
  * unseen-mass companion to q118's Zipf tail exponent.
  *
  * Per frequency class r ∈ 1..5 (the classes Gale–Sampson smooth
  * before trusting): `n_r` types seen exactly r times, the Turing
  * adjusted count `r_star` = (r+1)·N_{r+1}/N_r, and `mass_share` =
  * r·N_r/N, the raw share of tokens held by class r.
  *
  * Scale shape: token explode → vocab count (partial-agg shuffle,
  * the q69 vocab relation) → frequency-of-frequencies groupBy (rows =
  * distinct frequency VALUES, O(√N) by Heaps-style counting, and only
  * the r ≤ 6 slice survives — bounded BY CONSTRUCTION, so its join
  * against the fixed 5-row r-spine broadcasts legitimately). Nothing
  * corpus-proportional crosses the second shuffle; the totals row is
  * a 1-row broadcast. All output arithmetic is integer-ratio →
  * ROUND(…, 6): bit-identical across engines.
  */
object GoodTuring {

  /** Frequency classes reported (Gale–Sampson smooth r ≤ ~5 before
    * switching to a log-linear fit). */
  val MaxR = 5

  def goodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    // fof fans out 4 ways (small ×2, n1, totals) — checkpointed so
    // the corpus tokenize-explode + vocab shuffle runs exactly once
    // (r12 ADVICE: the q231 duplicated-scan class). fof is the cheap
    // thing to pin: ≤ distinct-frequency rows, not vocab-sized;
    // totals is derived from it (n_tokens = Σ f·n_r) instead of
    // re-reading vocab.
    val fof = vocab.groupBy(col("f")).agg(count(lit(1)).as("n_r"))
      .pin()
    val totals = fof.agg(sum(col("f") * col("n_r")).as("n_tokens"))
    // aggregate (not filter) so the relation is 1-row even in a
    // hapax-free corpus — the cross join must never zero the spine
    val n1 = fof.agg(coalesce(
      sum(when(col("f") === 1, col("n_r"))), lit(0L)).as("n_1"))
    // only classes 1..MaxR+1 feed the output — a ≤6-row relation no
    // matter the corpus size, broadcast by construction
    val small = fof.filter(col("f") <= MaxR + 1)
    val spine = spark.range(1, MaxR + 1).select(col("id").as("r"))
    spine
      .join(broadcast(small.select(col("f").as("r"), col("n_r"))), Seq("r"), "left")
      .join(broadcast(small.select((col("f") - 1).as("r"), col("n_r").as("n_r1"))),
        Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(n1))
      .select(
        col("r"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        coalesce(col("n_r1"), lit(0L)).as("n_r_next"),
        when(coalesce(col("n_r"), lit(0L)) > 0, round(
          (col("r") + 1).cast("double") * coalesce(col("n_r1"), lit(0L))
            / col("n_r"), 6)).as("r_star"),
        round(col("r").cast("double") * coalesce(col("n_r"), lit(0L))
          / col("n_tokens"), 6).as("mass_share"),
        round(col("n_1").cast("double") / col("n_tokens"), 6).as("p_unseen"))
      .orderBy(col("r"))
  }

  val goodTuringSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH vocab AS (
      |  SELECT tok, COUNT(*) AS f
      |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
      |  GROUP BY tok),
      |fof AS (SELECT f, COUNT(*) AS n_r FROM vocab GROUP BY f),
      |totals AS (
      |  SELECT CAST(SUM(f) AS BIGINT) AS n_tokens FROM vocab),
      |n1 AS (SELECT COALESCE(SUM(CASE WHEN f = 1 THEN n_r END), 0) AS n_1 FROM fof),
      |spine AS (SELECT r FROM (VALUES (1),(2),(3),(4),(5)) AS t(r))
      |SELECT CAST(s.r AS BIGINT) AS r,
      |  COALESCE(a.n_r, 0) AS n_r,
      |  COALESCE(b.n_r, 0) AS n_r_next,
      |  CASE WHEN COALESCE(a.n_r, 0) > 0 THEN
      |    ROUND(CAST(s.r + 1 AS DOUBLE) * COALESCE(b.n_r, 0) / a.n_r, 6)
      |  END AS r_star,
      |  ROUND(CAST(s.r AS DOUBLE) * COALESCE(a.n_r, 0) / t.n_tokens, 6) AS mass_share,
      |  ROUND(CAST(n1.n_1 AS DOUBLE) / t.n_tokens, 6) AS p_unseen
      |FROM spine s
      |LEFT JOIN fof a ON a.f = s.r
      |LEFT JOIN fof b ON b.f = s.r + 1
      |CROSS JOIN totals t CROSS JOIN n1
      |ORDER BY r""".stripMargin
  }
}
