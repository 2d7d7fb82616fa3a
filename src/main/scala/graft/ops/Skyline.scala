package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed 2-D Pareto skyline (Börzsönyi et al. ICDE 2001's
  * skyline operator) — the curation shape the threshold family can't
  * express: q84 keeps docs ABOVE a quality cut and q93 under a token
  * budget, but "the docs no other doc beats on BOTH quality and
  * cost" is a dominance query. The frontier here is quality score
  * (maximize, the shared q84 model via [[Curation.scoreDocs]])
  * against document length `n_chars` (minimize) — the
  * quality-per-byte efficiency frontier a budgeted curation sweep
  * walks.
  *
  * Dominance rule (classic, duplicates survive): e dominates d iff
  * score_e ≥ score_d ∧ cost_e ≤ cost_d with at least one strict.
  *
  * Scale shape — NO all-pairs, NO global sort: the naive skyline is a
  * quadratic self-join; the sorted formulation is a single global
  * running min (one task). This implementation range-buckets by score
  * ([[NBuckets]] fixed score ranges) and decomposes "min cost over
  * all strictly-higher scores" into (a) a per-(bucket, score)-group
  * min (partial agg), (b) a running min over score groups WITHIN each
  * bucket (windows partitioned by bucket — parallel; the group
  * relation is bounded by 10^6 rows at ANY corpus size because scores
  * round to 6 decimals), and (c) a prefix min over the ≤[[NBuckets]]
  * bucket summaries (a bounded single-partition window over a
  * constant-size relation). A doc is dominated iff that strict-higher
  * min is ≤ its own cost, or a same-score doc has strictly smaller
  * cost (its score group's min). The oracle certifies the whole
  * decomposition against the brute-force NOT EXISTS definition — an
  * independent algorithm, q171-style.
  */
object Skyline {

  /** Score-range buckets (the parallelism lever; answers are
    * bucket-count invariant — spec-pinned). */
  val NBuckets = 20

  /** The frontier of a (doc_id, source, n_chars, score) relation —
    * exposed for the spec's bucket-invariance and brute-force
    * replays. */
  private[graft] def frontierOf(pts: DataFrame, nBuckets: Int): DataFrame = {
    // materialize the (slim) point relation once: it feeds both the
    // group-min aggregation and the final dominance filter, and for
    // q207 the upstream is the full scoring scan — without the pin
    // the tokenizer+featurize pipeline would run on both join sides
    val withB = pts.withColumn("bucket",
      floor(col("score") * nBuckets).cast("long")).pin()
    // (a) per score group: min cost (one partial agg)
    val grp = withB.groupBy(col("bucket"), col("score"))
      .agg(min(col("n_chars")).as("gmin"))
    // (b) within bucket: min over STRICTLY higher score groups =
    // lag of the inclusive running min (groups are unique per score)
    val byScoreDesc = Window.partitionBy(col("bucket"))
      .orderBy(col("score").desc)
    val runMin = min(col("gmin")).over(
      byScoreDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val grp2 = grp.withColumn("rm", runMin)
      .withColumn("msh_in", lag(col("rm"), 1).over(byScoreDesc))
    // (c) prefix min over strictly-higher buckets (≤ nBuckets+1 rows:
    // a bounded relation, the single-partition window is constant
    // size by construction, never data-proportional)
    val bsum = grp.groupBy(col("bucket")).agg(min(col("gmin")).as("bmin"))
    val bpref = bsum.withColumn("mhb", min(col("bmin")).over(
      Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, -1)))
    val g = grp2.join(bpref.select(col("bucket"), col("mhb")), Seq("bucket"))
      .select(col("bucket"), col("score"), col("gmin"),
        least(col("msh_in"), col("mhb")).as("msh"))
    // merge: withB is the scored CORPUS checkpoint — the static
    // planner broadcast it off its stats-blind estimate (PERF.md r11)
    withB.hint("merge").join(g, Seq("bucket", "score"))
      .filter(!(coalesce(col("msh") <= col("n_chars"), lit(false))
        || col("n_chars") > col("gmin")))
      .select(col("doc_id"), col("source"), col("n_chars"), col("score"))
  }

  /** q207: the quality-vs-length Pareto frontier of the corpus. */
  def paretoFrontier(spark: SparkSession, sfDir: String): DataFrame =
    frontierOf(Curation.scoredPoints(spark, sfDir), NBuckets)
      .orderBy(col("score").desc, col("doc_id"))

  /** Brute-force dominance oracle — deliberately a DIFFERENT
    * algorithm than the bucketed decomposition. */
  val paretoFrontierSql: String =
    s"""WITH ${Curation.scoreCtesSql},
      |${Curation.ptsCteSql}
      |SELECT doc_id, source, n_chars, score FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.score >= p.score AND q.n_chars <= p.n_chars
      |    AND (q.score > p.score OR q.n_chars < p.n_chars))
      |ORDER BY score DESC, doc_id""".stripMargin
}
