package graft.ops

import graft.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q228: embedding-space eval decontamination — the third route of
  * the decontamination family. q63 joins exact n-grams, q226
  * compresses the eval grams into a Bloom filter; both are blind to
  * PARAPHRASED leakage (an eval document rewritten into the training
  * set shares few 3-grams but sits next to its origin in embedding
  * space — the reason production pipelines run a semantic
  * decontamination pass beside the lexical one). This query flags
  * every training document whose embedding cosine to ANY eval
  * document reaches [[Similarity.SimThreshold]], using the SAME
  * held-out carve as q226 ([[Decontaminate.EvalEvery]]) so the three
  * routes audit one benchmark set.
  *
  * Staging: every eval document leaks a perturbed twin into the
  * training side ([[Similarity.perturbLast]], the q27 recipe —
  * cosine ≈ 0.9998 to its origin), re-keyed to the slot-1 planted
  * decade so provenance classifies by id range.
  *
  * Scale shape — the bipartite variant of q27's band join: both sides
  * carry per-band sign-bit keys ([[graft.expressions.HyperplaneBands]],
  * one native-expression pass), candidates materialize only inside
  * the per-band bucket join where the cosine immediately reduces them,
  * and the join is SHUFFLE_HASH with its build exchange sized to
  * [[Similarity.BuildRowsPerPartition]] wide rows — never broadcast:
  * BOTH sides grow with the corpus (the eval carve is a fixed
  * fraction, not a fixed size), and the checkpoint-fed static
  * estimate would bait exactly the q224 trap. Per-train-doc rollup is
  * one partitioned window over the threshold survivors.
  */
object SemanticDecon {

  /** The held-out benchmark carve — q226's, so the lexical and
    * semantic routes decontaminate the same eval set. */
  val EvalEvery: Int = Decontaminate.EvalEvery

  /** Bipartite bucket-density census at a geometry: Σ a_c·b_c over
    * shared (band, key) buckets — the exact number of candidate
    * verifications the train×eval band join will perform. Narrow
    * (band, key) aggregates only; vector payloads never leave the
    * scan. The count relations are bounded by the geometry
    * (≤ bands × 2^bits buckets), so their join is free at any
    * corpus size. */
  private[graft] def censusCandPairsBipartite(train: DataFrame,
      eval: DataFrame, planes: Int, bits: Int): Long = {
    def counts(df: DataFrame, as: String) =
      Similarity.buckets(df, planes, bits).withColumnRenamed("c", as)
    counts(train, "ca").join(counts(eval, "cb"), Seq("band", "key"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long"))
      .head().getLong(0)
  }

  /** The q27 density self-guard, bipartite (q228's exposure is the
    * SAME chance-collision regime — the eval carve is a fixed
    * fraction of the corpus, so the train×eval per-band bucket
    * product grows ~n²/(97·2^bits) once the corpus outruns the band
    * width): walk [[Similarity.GeometryLadder]] until the measured
    * candidate volume fits the budget per TRAIN vector; refuse
    * loudly when even the widest rung is over — that density is
    * irreducible duplicate mass between the sides, and the flag
    * OUTPUT itself approaches n_train × n_eval. */
  private[graft] def chooseGeometry(train: DataFrame, eval: DataFrame,
      budgetPerTrainVector: Long = Similarity.MaxCandPairsPerVector)
      : Similarity.LshGeometry =
    Similarity.walkGeometryLadder(train.count(), budgetPerTrainVector,
      "q228", "train vector",
      "Collapse duplicates (q22/q53) on the training side before " +
        "decontaminating",
      censusCandPairsBipartite(train, eval, _, _))

  def semanticDecon(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 1,
      "q228 leaked eval twins")
    // one featurize pass, read three ways (organic train / eval /
    // leak) — checkpoint-fed joins below follow the q224 convention
    val e = Corpus.docEmbeddings(spark, sfDir).pin()
    val isEval = pmod(col("vec_id"), lit(EvalEvery.toLong)) === 0
    val eval = e.filter(isEval)
    val leak = Similarity.perturbLast(eval, off)
    val train = e.filter(!isEval).unionByName(leak)
      .withColumn("nrm", graft.functions.VectorOps.l2Norm(col("v")))
      .pin()
    val evalN = eval
      .withColumn("nrm", graft.functions.VectorOps.l2Norm(col("v")))
      .pin()
    // the bipartite density self-guard (the q27/q225 discipline):
    // hold the declared geometry while the measured candidate volume
    // fits, widen along the recall-matched ladder when chance
    // collisions dominate, refuse on irreducible duplicate mass
    val g = chooseGeometry(train, evalN)
    if (g.widenedFrom.nonEmpty)
      System.err.println(s"[q228] lsh geometry widened " +
        s"${g.widenedFrom.mkString("→")} → (${g.planes}, ${g.bits}) " +
        s"(census ${g.candPairs} pairs over n_train=${g.n})")
    // the shared sized shuffle-hash band join (q27's, bipartite) —
    // the hash-build sizing and never-broadcast discipline live in
    // ONE place ([[Similarity.bandJoinPairs]]); sizing keys off the
    // larger (train) side, which the guard already counted
    val hits = Similarity
      .bandJoinPairs(train, Some(evalN), g.planes, g.bits, Some(g.n))
      .withColumnRenamed("a_id", "train_id")
      .withColumnRenamed("b_id", "eval_id")
    // per contaminated train doc: match count, best (highest rounded
    // sim, min eval_id) — ranking over ROUNDED sims so a last-ulp
    // cross-engine difference can never flip the tie-break
    val w = Window.partitionBy(col("train_id"))
    val rnk = Window.partitionBy(col("train_id"))
      .orderBy(col("sim").desc, col("eval_id"))
    hits
      .withColumn("n_eval_matches", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(rnk))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("n_eval_matches"),
        col("eval_id").as("best_eval_id"), col("sim").as("best_sim"),
        (col("train_id") >= off).as("is_planted_leak"))
      .orderBy(col("train_id"))
  }

  val semanticDeconSql: String = {
    import Similarity.SimThreshold
    s"""WITH ${Corpus.docEmbCte},
      |${Similarity.perturbCte(
        s"demb WHERE vec_id % $EvalEvery = 0", Planted.offsetSql(1))},
      |corpus AS MATERIALIZED (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, is_eval
      |  FROM (
      |    SELECT vec_id, v, FALSE AS is_eval FROM demb
      |    WHERE vec_id % $EvalEvery <> 0
      |    UNION ALL SELECT vec_id, v, FALSE FROM pert
      |    UNION ALL SELECT vec_id, v, TRUE AS is_eval FROM demb
      |    WHERE vec_id % $EvalEvery = 0)),
      |${Similarity.hpProjBandsCtes()},
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS train_id, b.vec_id AS eval_id
      |  FROM bands a
      |  JOIN corpus ca ON ca.vec_id = a.vec_id AND NOT ca.is_eval
      |  JOIN bands b ON a.band = b.band AND a.key = b.key
      |  JOIN corpus cb ON cb.vec_id = b.vec_id AND cb.is_eval),
      |hits AS (
      |  SELECT train_id, eval_id, ROUND(sim, 6) AS sim FROM (
      |    SELECT c.train_id, c.eval_id,
      |      CASE WHEN va.nrm * vb.nrm = 0 THEN 0.0
      |           ELSE list_dot_product(va.v, vb.v) / (va.nrm * vb.nrm)
      |      END AS sim
      |    FROM cand c
      |    JOIN corpus va ON va.vec_id = c.train_id
      |    JOIN corpus vb ON vb.vec_id = c.eval_id)
      |  WHERE sim >= $SimThreshold),
      |ranked AS (
      |  SELECT train_id, eval_id, sim,
      |    COUNT(*) OVER (PARTITION BY train_id) AS n_eval_matches,
      |    ROW_NUMBER() OVER (PARTITION BY train_id
      |      ORDER BY sim DESC, eval_id) AS rn
      |  FROM hits)
      |SELECT train_id, n_eval_matches, eval_id AS best_eval_id,
      |  sim AS best_sim,
      |  train_id >= ${Planted.offsetSql(1)} AS is_planted_leak
      |FROM ranked WHERE rn = 1
      |ORDER BY train_id""".stripMargin
  }
}
