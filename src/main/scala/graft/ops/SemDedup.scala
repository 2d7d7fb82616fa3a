package graft.ops

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023): semantic deduplication through the
  * cluster-then-compare recipe — k-means the embedding space, compare
  * pairs ONLY within a cluster, and drop every vector that has a
  * higher-priority near-duplicate (cosine ≥ τ). Clustering is what
  * makes semantic dedup tractable: the all-pairs O(n²) comparison
  * shrinks to Σ|cluster|², and each cluster's pairs co-locate under
  * one shuffle key. Runs over the 1024-d document corpus on the SAME
  * fitted model as the q79 learned-IVF index (one training loop,
  * two consumers — exactly how a production pipeline shares its
  * cluster structure between retrieval and dedup).
  *
  * Keep rule: within a duplicate pair the SMALLER vec_id survives (a
  * deterministic one-pass variant of the paper's keep-one-per-group;
  * a vector is removed iff some smaller-id vector in its cluster is
  * τ-close). Pairs that straddle a cluster boundary are missed — the
  * recall trade-off every SemDeDup deployment accepts in exchange for
  * the quadratic shrinking to per-cluster.
  *
  * Scale: at 100 TB the knobs are k (clusters scale with corpus so
  * |cluster| stays bounded) and the pair join stays per-cluster-local
  * — one shuffle on cid, no global sort. Since r13 the declared path
  * applies that rule itself: K = max(DocK, n/DocsPerCluster)
  * ([[KMeans.adaptiveDocK]], gates unchanged at DocK) served by the
  * [[KMeans.fitVecsTree]] two-level fit above the gate constant —
  * flat Lloyd's n·K·d assignment is quadratic when K ∝ n, the tree's
  * ≈2n√K·d is not, and its second level IS the "skewed giant
  * clusters split by a second-level k-means" of the previous
  * paragraph, applied universally rather than as an afterthought.
  */
object SemDedup {

  /** Near-duplicate cosine threshold — the q27 near-dup band, where
    * the corpus's planted duplicates sit. */
  val Tau = 0.98

  /** q100: per-cluster dedup summary — total vectors, removed
    * near-dups, survivors. */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame =
    semDedupOver(KMeans.docAssignments(spark, sfDir))

  /** The pair-compare + rollup over any fitted assignment — shared
    * with [[graft.tools.ProbeSemDedupK]], which drives it with
    * K ∝ corpus to demonstrate the linear-restoring knob the
    * scaladoc above names. */
  private[graft] def semDedupOver(assignments: DataFrame,
      alreadyPinned: Boolean = false): DataFrame = {
    // the fitted assignment feeds both pair sides and the final
    // rollup — materialize it once (a pin keeps the
    // returned plan lazy); callers that already checkpointed pass
    // alreadyPinned to avoid double-copying the 8 KB-per-row payload
    val selected = assignments
      .select(col("vec_id"), col("v"), col("xx"), col("cid"))
    val assigned = if (alreadyPinned) selected else selected.pin()
    val a = assigned.select(col("cid"), col("vec_id").as("i"),
      col("v").as("vi"), col("xx").as("xi"))
    val b = assigned.select(col("cid"), col("vec_id").as("j"),
      col("v").as("vj"), col("xx").as("xj"))
    // the stored vectors are not unit norm (quirk Q1 pad-after-
    // normalize), so this is true cosine, zero-norm-guarded like q79
    val denom = sqrt(col("xi")) * sqrt(col("xj"))
    val removed = a.join(b, Seq("cid"))
      .filter(col("i") < col("j"))
      .filter(round(when(denom === 0.0, lit(0.0))
        .otherwise(VectorOps.dot(col("vi"), col("vj")) / denom), 9) >= Tau)
      .select(col("j").as("vec_id"))
      .distinct()
    assigned
      .join(removed.withColumn("removed", lit(true)), Seq("vec_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("removed"), 0L).otherwise(1L)).as("n_kept"))
      .orderBy(col("cid"))
  }

  /** The pair-compare + rollup tail over an in-scope `assigned` CTE
    * — shared verbatim by the declared gate oracle and the ×10
    * tree-prefix rendering. */
  private val semDedupTail: String =
    s"""removed AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assigned a JOIN assigned b
      |    ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE ROUND(CASE WHEN sqrt(a.xx) * sqrt(b.xx) = 0 THEN 0.0
      |        ELSE list_dot_product(a.v, b.v) / (sqrt(a.xx) * sqrt(b.xx))
      |        END, 9) >= $Tau)
      |SELECT a.cid, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(SUM(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
      |GROUP BY a.cid
      |ORDER BY a.cid""".stripMargin

  val semDedupSql: String =
    s"WITH ${KMeans.docModelCtes},\n$semDedupTail"

  /** q100's oracle at a staged corpus's adaptive K (tree path) — the
    * ×10 harness rendering. */
  private[graft] def semDedupTreeSqlAt(k: Int): String =
    s"WITH ${KMeans.docTreeModelCtesAt(k)},\n$semDedupTail"
}
