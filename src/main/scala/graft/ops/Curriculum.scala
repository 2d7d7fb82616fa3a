package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q231: curriculum phase assignment — the ordering stage of a
  * curriculum-learning data plan (Bengio et al. 2009): score every
  * document with a rarity-weighted difficulty (mean IDF of its
  * tokens — common-word documents are "easy", rare-vocabulary ones
  * "hard"), cut the corpus into four phases at the EXACT difficulty
  * quartiles, and report each phase's profile. Training then feeds
  * phases in order; the profile is what a mixture planner needs to
  * budget tokens per phase (q137's epoch plan consumes exactly this
  * kind of stratum table).
  *
  * Scale shape:
  *   - difficulty: token explode → doc-frequency vocab (partial-agg
  *     shuffle) → join BACK to token instances. The vocab relation
  *     grows with the corpus — the q69 rule — so it is NEVER
  *     broadcast (it arrives as a shuffled aggregate with unknown
  *     stats; only AQE may promote it from measured bytes).
  *   - quartile thresholds: [[Stats.quantileDiscOf]], the q101
  *     two-pass bin-and-refine selection — exact percentile_disc
  *     rank semantics with NO global sort and no per-group value
  *     buffering, so the cut points are exact at any corpus size.
  *     The single global group ("all") constant-folds out of the
  *     pass-1 window's partition spec, so Spark logs a
  *     single-partition-window WARN there — that window is the BIN
  *     cumsum, ≤ [[Stats.QuantileBins]] rows total regardless of
  *     corpus size (the per-row pass never crosses it); pass 2 stays
  *     partitioned by quantile and touches only target-bin rows.
  *   - phase bucketing: the 3-threshold row broadcast back over the
  *     checkpointed difficulty relation (docs-proportional, always
  *     the stream side), then one partial-agg rollup on a 4-value
  *     key.
  *
  * Engine parity: per-token idf is ROUND(ln(·), 9) (the q69
  * convention), per-doc difficulty a DECIMAL(28,12) sum → ROUND 6,
  * and thresholds are actual data values (percentile_disc, never
  * interpolated) — so the phase boundary can never drift between
  * engines by a final-bit.
  *
  * Contract: token-less documents are EXCLUDED from phasing — the
  * difficulty stage inner-joins documents to their exploded tokens,
  * so a doc whose text tokenizes to nothing has no difficulty row
  * and lands in no phase (DuckDB's oracle agrees: its token unnest
  * produces no row to aggregate). Callers wanting every doc phased
  * must pre-filter or default such docs themselves.
  */
object Curriculum {

  val PhaseQs: Seq[Double] = Seq(0.25, 0.5, 0.75)

  /** Per-document difficulty = mean idf over token instances,
    * idf(t) = ln(n_docs / df(t)) — always ≥ 0, 0 for a token in
    * every document. */
  private[graft] def difficulty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // the token relation feeds the df aggregate AND the join stream
    // side under different exchanges — pin the tokenize scan once
    // (the q83/tfidf convention)
    val toks = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .pin()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfT = toks.distinct().groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // vocab grows with the corpus (q69 rule): the static planner's
    // small-aggregate estimate must not bait a broadcast that dies
    // at 100 TB — pin the shuffle join shape explicitly
    toks.join(dfT.hint("merge"), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(
        log(col("n_docs").cast("double") / col("df")), 9))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        round(sum(col("idf").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("difficulty"))
  }

  def curriculumPhases(spark: SparkSession, sfDir: String): DataFrame = {
    // 4 consumers below (threshold passes + bucketing) — pin the
    // expensive explode/join/agg subtree once. Checkpointed relation
    // only ever streams (q224 convention: never on a build side).
    val diff = difficulty(spark, sfDir).pin()
    val cuts = Stats.quantileDiscOf(
      diff.select(lit("all").as("g"), col("difficulty").as("v")), PhaseQs)
    val thr = cuts.agg(
      max(when(col("q") === 0.25, col("value"))).as("t25"),
      max(when(col("q") === 0.5, col("value"))).as("t50"),
      max(when(col("q") === 0.75, col("value"))).as("t75"))
    diff.crossJoin(broadcast(thr))
      .withColumn("phase",
        when(col("difficulty") <= col("t25"), 0L)
          .when(col("difficulty") <= col("t50"), 1L)
          .when(col("difficulty") <= col("t75"), 2L)
          .otherwise(3L))
      .groupBy(col("phase"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("difficulty")).as("min_difficulty"),
        max(col("difficulty")).as("max_difficulty"),
        round(sum(col("difficulty").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_difficulty"),
        round(sum(col("n_toks")).cast("double") / count(lit(1)), 2)
          .as("avg_tokens"))
      .orderBy(col("phase"))
  }

  val curriculumPhasesSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH toks AS (
      |  SELECT doc_id, unnest($tokSql) AS tok FROM documents),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |dft AS (
      |  SELECT tok, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
      |scored AS (
      |  SELECT t.doc_id,
      |    ROUND(ln(CAST(nd.n_docs AS DOUBLE) / dft.df), 9) AS idf
      |  FROM toks t JOIN dft USING (tok) CROSS JOIN nd),
      |diff AS (
      |  SELECT doc_id, COUNT(*) AS n_toks,
      |    ROUND(CAST(SUM(CAST(idf AS DECIMAL(28,12))) AS DOUBLE)
      |      / COUNT(*), 6) AS difficulty
      |  FROM scored GROUP BY doc_id),
      |thr AS (
      |  SELECT quantile_disc(difficulty, 0.25) AS t25,
      |    quantile_disc(difficulty, 0.5) AS t50,
      |    quantile_disc(difficulty, 0.75) AS t75
      |  FROM diff),
      |phased AS (
      |  SELECT d.*, CAST(CASE
      |      WHEN difficulty <= t25 THEN 0
      |      WHEN difficulty <= t50 THEN 1
      |      WHEN difficulty <= t75 THEN 2
      |      ELSE 3 END AS BIGINT) AS phase
      |  FROM diff d CROSS JOIN thr)
      |SELECT phase, COUNT(*) AS n_docs,
      |  MIN(difficulty) AS min_difficulty,
      |  MAX(difficulty) AS max_difficulty,
      |  ROUND(CAST(SUM(CAST(difficulty AS DECIMAL(18,6))) AS DOUBLE)
      |    / COUNT(*), 6) AS avg_difficulty,
      |  ROUND(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*), 2) AS avg_tokens
      |FROM phased GROUP BY phase ORDER BY phase""".stripMargin
  }
}
