package graft.ops

import graft.Tables
import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q229: in-context packing — order documents SEMANTICALLY before
  * packing them into fixed token-budget training contexts, so each
  * context window holds related documents instead of an arbitrary
  * stream (Shi et al., "In-Context Pretraining: Language Modeling
  * Beyond Document Boundaries", ICLR 2024 — their sort-by-cluster
  * approximation of the similarity-chain ordering; q86 packs the
  * arbitrary stream, q148 shuffles epochs, this closes the
  * long-context prep gap between them).
  *
  * The ordering is the q79/q100 shared doc model
  * ([[KMeans.docAssignments]] — Lloyd's at 1024-d, deterministic
  * contract): documents sort by (cluster, rounded distance-to-own-
  * centroid, doc_id) and pack WITHIN their cluster by the q86
  * cumsum-floor rule at [[CtxBudget]] BPE-estimated tokens. Contexts
  * never straddle clusters — semantically desirable AND the scale
  * property: the packing window partitions by cluster id, so there is
  * no global total-order bottleneck. Packing parallelism therefore
  * equals K, and since r13 the DECLARED path derives K from the
  * corpus ([[KMeans.adaptiveDocK]]: K = max(DocK, n/DocsPerCluster),
  * the ivfflat-`lists` rule, reference `models.py:38`) — the gates
  * still evaluate to DocK = 10 (oracle hashes unchanged) while
  * staged/production corpora get K ∝ n, which removed the r12
  * fixed-K window-sort blowup (x10→x30 leg exponent ≈ 1.2 at fixed
  * K). The fit that serves those K is [[KMeans.fitVecsTree]]'s
  * two-level centroid tree: the flat Lloyd's n·K·d argmin is itself
  * quadratic under K ∝ n (the r13 probe breakdown pinned 161 s of
  * q229's 163 s x30 wall inside fit_assign), and the tree cuts the
  * argmin to n·(B1 + 3·B2)·d ≈ 2n√K·d, restoring a linear ladder
  * (fit+assign 5.2 / 38.4 / 112.1 s at x1/x10/x30 — the x10→x30
  * leg is 2.92× on 3× data).
  *
  * Self-evidencing census: each context reports its mean ADJACENT-pair
  * cosine (the quantity in-context pretraining raises — neighbors in
  * the window are what the model attends across); the spec pins the
  * corpus-level uplift against doc_id-order packing.
  *
  * Scale shape: one model fit (bounded-K broadcasts), one assignment
  * pass, one partitioned window for the packing, one
  * adjacent-rank self-join (rank ±1 equi-join inside each cluster —
  * vector payloads cross the shuffle once), one rollup. Nothing
  * corpus-proportional is ever broadcast: the token-count join and
  * the adjacency join are partitioned (the q224 convention — both
  * sides grow with the corpus).
  */
object InContextPack {

  /** Tokens per packed training context (BPE-estimated). */
  val CtxBudget = 512

  /** The ordered-and-packed per-doc stage BEFORE materialization —
    * exposed so the spec can pin its join shapes ([[inContextPack]]
    * checkpoints it, which hides these joins from the final plan). */
  private[graft] def packedStage(spark: SparkSession,
      sfDir: String): DataFrame = {
    // (vec_id, v, xx, cid) under the fitted 1024-d doc model, plus
    // the distance to the OWN centroid for the within-cluster order —
    // one featurize pass and one Lloyd fit, shared between the model
    // and the assignment (the checkpointed model is reused, not refit)
    val (model, assigned) = KMeans.docModelAndAssignments(spark, sfDir)
    val dists = assigned
      .join(broadcast(model), Seq("cid")) // bounded: K centroids
      .withColumn("cdist", round(col("xx")
        - lit(2.0) * VectorOps.dot(col("v"), col("cv")) + col("cc"), 9))
      .select(col("vec_id").as("doc_id"), col("cid"), col("cdist"),
        col("v"), col("xx"))
    val ntok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextOps.tokenCountBpe(col("text")).as("n_tok"))
    // semantic order within cluster → q86 cumsum-floor packing.
    // checkpoint-fed lineage (docVectors pins the corpus)
    // under-reports sizes, so the corpus-proportional ntok join is
    // hinted per the q224 convention (shuffle_hash: the dists side
    // carries 8 KB vector payloads SMJ would sort — the q27 lesson)
    val ord = Window.partitionBy(col("cid"))
      .orderBy(col("cdist"), col("doc_id"))
    dists.join(ntok.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("rnk", row_number().over(ord))
      .withColumn("ctx_id",
        ((sum(col("n_tok")).over(ord) - col("n_tok")) / CtxBudget)
          .cast("long"))
  }

  def inContextPack(spark: SparkSession, sfDir: String): DataFrame = {
    // materialized: packed feeds BOTH adjacency sides and the rollup
    // — without the checkpoint the assignment join and the window
    // sort re-execute three times
    val packed = packedStage(spark, sfDir).pin()
    // adjacency census: cosine of each (rank, rank+1) pair that lands
    // in the SAME context — partitioned equi-join on (cid, rnk)
    val a = packed.select(col("cid"), col("ctx_id"), col("rnk"),
      col("v"), col("xx"))
    val b = packed.select(col("cid"), (col("rnk") - 1).as("rnk"),
      col("ctx_id").as("ctx_b"), col("v").as("vb"), col("xx").as("xxb"))
    val denom = sqrt(col("xx")) * sqrt(col("xxb"))
    val adj = a.join(b.hint("shuffle_hash"), Seq("cid", "rnk"))
      .filter(col("ctx_id") === col("ctx_b"))
      .select(col("cid"), col("ctx_id"),
        round(when(denom === 0.0, lit(0.0))
          .otherwise(VectorOps.dot(col("v"), col("vb")) / denom), 9)
          .as("s"))
      .groupBy(col("cid"), col("ctx_id"))
      .agg(round(sum(col("s").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("mean_adj_sim"))
    packed.groupBy(col("cid"), col("ctx_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .withColumn("fill_ratio", round(col("n_tokens").cast("double")
        / CtxBudget, 6))
      .join(adj.hint("merge"), Seq("cid", "ctx_id"), "left")
      .orderBy(col("cid"), col("ctx_id"))
  }

  /** The order/pack/adjacency tail over in-scope `model`/`assigned`
    * CTEs — shared verbatim by the declared gate oracle and the ×10
    * tree-prefix rendering. */
  private val inContextPackTail: String = {
    val tok = TextOps.tokSql()
    s"""dists AS (
      |  SELECT a.vec_id AS doc_id, a.cid,
      |    ROUND(a.xx - 2.0 * list_dot_product(a.v, m.cv) + m.cc, 9)
      |      AS cdist,
      |    a.v, a.xx
      |  FROM assigned a JOIN model m USING (cid)),
      |ntok AS (
      |  SELECT doc_id, ${TextOps.tokenCountBpeSql(tok)} AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT d.doc_id, d.cid, d.cdist, d.v, d.xx, n.n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY d.cid
      |      ORDER BY d.cdist, d.doc_id) AS rnk,
      |    CAST((SUM(n.n_tok) OVER (PARTITION BY d.cid
      |       ORDER BY d.cdist, d.doc_id) - n.n_tok) // $CtxBudget
      |      AS BIGINT) AS ctx_id
      |  FROM dists d JOIN ntok n USING (doc_id)),
      |adj AS (
      |  SELECT a.cid, a.ctx_id,
      |    ROUND(CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |      AS mean_adj_sim
      |  FROM (
      |    SELECT a.cid, a.ctx_id,
      |      ROUND(CASE WHEN sqrt(a.xx) * sqrt(b.xx) = 0 THEN 0.0
      |            ELSE list_dot_product(a.v, b.v)
      |              / (sqrt(a.xx) * sqrt(b.xx)) END, 9) AS s
      |    FROM packed a JOIN packed b
      |      ON b.cid = a.cid AND b.rnk = a.rnk + 1 AND b.ctx_id = a.ctx_id
      |    ) a
      |  GROUP BY a.cid, a.ctx_id)
      |SELECT p.cid, p.ctx_id, COUNT(*) AS n_docs,
      |  CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(SUM(p.n_tok) AS DOUBLE) / $CtxBudget, 6) AS fill_ratio,
      |  ANY_VALUE(adj.mean_adj_sim) AS mean_adj_sim
      |FROM packed p
      |LEFT JOIN adj ON adj.cid = p.cid AND adj.ctx_id = p.ctx_id
      |GROUP BY p.cid, p.ctx_id
      |ORDER BY p.cid, p.ctx_id""".stripMargin
  }

  val inContextPackSql: String =
    s"WITH ${KMeans.docModelCtes},\n$inContextPackTail"

  /** q229's oracle at a staged corpus's adaptive K (tree path) — the
    * ×10 harness rendering. */
  private[graft] def inContextPackTreeSqlAt(k: Int): String =
    s"WITH ${KMeans.docTreeModelCtesAt(k)},\n$inContextPackTail"
}
