package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash Jaccard-estimator audit under an observed-error contract —
  * completing the sketch-contract family: q196 bounds the engine HLL,
  * q204 bounds the t-digest, and this bounds the estimator the q24
  * LSH path exists to serve. P[h_min agrees] = J(A,B) per permutation
  * (Broder 1997), so matching components / 16 is an unbiased Jaccard
  * estimator with sd √(J(1−J)/16) ≤ 0.125 — and a pipeline replacing
  * exact verification with the signature estimate needs the OBSERVED
  * error measured, not assumed.
  *
  * The audit runs est-vs-exact on the LSH CANDIDATE set (the
  * population the production shortcut would score): per exact-Jaccard
  * decile band it publishes pair counts, mean estimate vs mean exact,
  * and mean/max absolute error. The low bands deliberately EXHIBIT
  * selection bias — a low-J pair only became a candidate because a
  * whole band matched by chance, which forces ≥ 4/16 components equal
  * and inflates the estimate; measuring that inflation is half the
  * point (it is WHY production LSH still exact-verifies below the
  * threshold). The contract therefore HARD-ASSERTS only where the
  * production filter operates — bands ≥ [[ContractBandMin]] (J ≥ 0.5)
  * with n ≥ [[MinBandN]]: mean |err| ≤ [[MaxMeanAbsErr]] and |bias| ≤
  * [[MaxBias]] (≈ 3× the binomial se at n = 20), so a real estimator
  * regression fails loudly while permutation noise never does.
  *
  * Determinism: estimates are exact multiples of 1/16 (binary-exact
  * doubles), exact Jaccards round to 9 before banding and error
  * math, sums accumulate in DECIMAL.
  *
  * Scale shape: the q24 pipeline verbatim (signatures shuffle, never
  * shingle sets) plus one extra partial-agg'd census over the
  * candidate pairs; the contract reads a ≤ 10-row relation.
  */
object MinHashAudit {

  val Components = 16
  val MinBandN = 20
  val ContractBandMin = 5
  val MaxMeanAbsErr = 0.15
  val MaxBias = 0.08

  /** q217: per-Jaccard-band estimator-error census, contract
    * hard-asserted. */
  def estimatorAudit(spark: SparkSession, sfDir: String): DataFrame =
    // cache the SIGNED relation, not just the shingles: the inverted
    // index and both pair sides consume it, and the 16-permutation
    // transform over every shingle array is the expensive part —
    // without this boundary the signature pass runs three times. The
    // body pins the census, the only thing read after it, so both
    // copies of the per-doc shingle arrays (the widest relation in the
    // pipeline) are dropped on the way out.
    Materialize.cached(Dedup.shingled(spark, sfDir)) { docs =>
      Materialize.cached(Dedup.signedOf(docs))(estimatorAuditOf)
    }

  private def estimatorAuditOf(signed: DataFrame): DataFrame = {
    val cand = Dedup.candOf(Dedup.invOf(signed))
    def side(tag: String) = signed
      .withColumn("n_sh", size(col("sh")))
      .select(col("doc_id").as(s"${tag}_id") +:
        col("sh").as(s"sh_$tag") +: col("n_sh").as(s"n_$tag") +:
        (0 until Components).map(i => col(s"m$i").as(s"${tag}_m$i")): _*)
    val paired = cand.join(side("a"), Seq("a_id")).join(side("b"), Seq("b_id"))
    val matches = (0 until Components)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = matches.cast("double") / Components
    val shared = size(array_intersect(col("sh_a"), col("sh_b")))
    val exact = round(shared.cast("double")
      / (col("n_a") + col("n_b") - shared), 9)
    val census = paired
      .select(est.as("est"), exact.as("j"))
      .withColumn("band", least(floor(col("j") * 10), lit(9)).cast("int"))
      .withColumn("err", round(abs(col("est") - col("j")), 9))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("est").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 6).as("mean_est"),
        round(sum(col("j").cast("decimal(28,9)")).cast("double")
          / count(lit(1)), 6).as("mean_exact"),
        round(sum(col("err").cast("decimal(28,9)")).cast("double")
          / count(lit(1)), 6).as("mean_abs_err"),
        round(max(col("err")), 6).as("max_abs_err"))
      .pin() // one execution serves contract + answer
    // census columns: band(0), n_pairs(1), mean_est(2),
    // mean_exact(3), mean_abs_err(4), max_abs_err(5)
    for (r <- census.collect()
         if r.getInt(0) >= ContractBandMin && r.getLong(1) >= MinBandN) {
      require(r.getDouble(4) <= MaxMeanAbsErr,
        s"band ${r.getInt(0)}: mean |err| ${r.getDouble(4)} breaches " +
          s"the $MaxMeanAbsErr estimator contract")
      require(math.abs(r.getDouble(2) - r.getDouble(3)) <= MaxBias,
        s"band ${r.getInt(0)}: bias ${r.getDouble(2) - r.getDouble(3)} " +
          s"breaches the ±$MaxBias unbiasedness contract")
    }
    census.orderBy(col("band"))
  }

  val estimatorAuditSql: String = {
    val matchSql = (0 until Components)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${Dedup.corpusNearCte},
      |${Dedup.bandInvCtes},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM inv a JOIN inv b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |paired AS (
      |  SELECT
      |    ($matchSql) / ${Components}.0 AS est,
      |    ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |      / (sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh))), 9) AS j
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.a_id
      |  JOIN sig sb ON sb.doc_id = c.b_id),
      |banded_pairs AS (
      |  SELECT est, j,
      |    CAST(LEAST(FLOOR(j * 10), 9) AS INT) AS band,
      |    ROUND(ABS(est - j), 9) AS err
      |  FROM paired)
      |SELECT band, COUNT(*) AS n_pairs,
      |  ROUND(CAST(SUM(CAST(est AS DECIMAL(28,6))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_est,
      |  ROUND(CAST(SUM(CAST(j AS DECIMAL(28,9))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_exact,
      |  ROUND(CAST(SUM(CAST(err AS DECIMAL(28,9))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_abs_err,
      |  ROUND(MAX(err), 6) AS max_abs_err
      |FROM banded_pairs GROUP BY band ORDER BY band""".stripMargin
  }
}
