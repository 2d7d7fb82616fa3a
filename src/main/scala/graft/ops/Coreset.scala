package graft.ops

import graft.Tables
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q236: greedy k-center coreset selection (Gonzalez 1985's 2-approx
  * farthest-point traversal; Sener & Savarese ICLR 2018 use exactly
  * this to pick maximally-diverse training subsets) — the
  * diversity-first counterpart to q130's best-exemplars (which picks
  * cluster-CENTRAL prototypes) and q100's SemDeDup (which removes
  * redundancy pairwise). The selection trace doubles as the k-center
  * coverage curve: row k's `dist` is the covering radius of the
  * first k−1 centers (the selected point is BY CONSTRUCTION the
  * farthest-from-set witness), so a steep-then-flat curve certifies
  * the corpus is low-diversity and a heavy tail flags outlier mass.
  *
  * Determinism contract: pairwise distance is the shared rounded-9
  * true-L2 form (xx − 2·dot + cc, the q79 ladder) clamped at 0 (two
  * identical vectors can land at −1e−12 before the clamp and sqrt
  * must not see it); argmax ties break to the smaller vec_id; the
  * published distance is ROUND(sqrt(dmin), 6) + 0.0 (sqrt is
  * IEEE-correctly-rounded in both engines; `+ 0.0` pins the zero
  * sign, the q234 lesson).
  *
  * Scale shape: the textbook distributed k-center. The corpus keeps
  * a per-row `dmin` (distance to the selected set) as a materialized
  * column; each of the K−1 steps broadcasts ONE new center, updates
  * dmin map-side (`least`), and takes a global top-1 (argmax) — a
  * K-pass linear scan with nothing corpus-proportional on the driver
  * or in any shuffle. At 100 TB each pass is a cheap map + tree
  * reduce; K is the product knob. Lineage is cut per step
  * (pin) so step k never replays steps 1..k−1.
  */
object Coreset {

  /** Selected coreset size (bounded — each step is one corpus pass). */
  val K = 8

  private def d2(xx: Column, v: Column, cv: Column, cc: Column): Column =
    greatest(lit(0.0), round(xx - lit(2.0) * VectorOps.dot(v, cv) + cc, 9))

  /** q236: the greedy selection trace — (step, vec_id, dist), where
    * dist is the selected point's distance to the previously-chosen
    * set (= the covering radius before this step; NULL for the seed). */
  def kCenter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("xx", VectorOps.dot(col("v"), col("v")))
      .pin()
    // seed = vec_id 0 (deterministic; any fixed rule works for the
    // 2-approximation). Guard the dense-vec_id contract loudly (the
    // fitVecsK spreadSeeds convention): without it a missing seed row
    // surfaces as an opaque NoSuchElementException from the first
    // argmax head() while the DuckDB replay silently returns a 1-row
    // trace — divergent failure modes.
    val g = vecs.agg(count(lit(1)).as("n"),
      sum(when(col("vec_id") === 0L, 1L).otherwise(0L)).as("s0")).head
    require(g.getLong(0) > 0, "Coreset.kCenter: empty embeddings corpus")
    require(g.getLong(1) == 1L,
      "Coreset.kCenter: seed row vec_id=0 missing — vec_ids must be " +
        "dense from 0 (the corpus/probe-staging contract)")
    val seed = vecs.filter(col("vec_id") === 0L)
      .select(col("v").as("cv"), col("xx").as("cc"))
    var state = vecs.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("v"), col("xx"),
        d2(col("xx"), col("v"), col("cv"), col("cc")).as("dmin"))
      .pin()
    val trace = Seq.newBuilder[(Long, Long, Option[Double])]
    trace += ((1L, 0L, None))
    for (step <- 2 to K) {
      // one action per step: the farthest point (tie → smaller id)
      val nxt = state
        .agg(min_by(struct(col("vec_id"), col("v"), col("xx"), col("dmin")),
          struct(negate(col("dmin")), col("vec_id"))).as("s"))
        .select(col("s.vec_id"), col("s.v"), col("s.xx"), col("s.dmin"))
        .head
      trace += ((step.toLong, nxt.getLong(0), Some(nxt.getDouble(3))))
      val c = Seq((nxt.getSeq[Double](1), nxt.getDouble(2)))
        .toDF("cv", "cc")
      state = Materialize.advance(state, state.crossJoin(broadcast(c))
        .select(col("vec_id"), col("v"), col("xx"),
          least(col("dmin"),
            d2(col("xx"), col("v"), col("cv"), col("cc"))).as("dmin")))
    }
    // the trace is collected: the answer reads no pin
    Materialize.release(state)
    Materialize.release(vecs)
    trace.result()
      .toDF("step", "vec_id", "d")
      .select(col("step"), col("vec_id"),
        (round(sqrt(col("d")), 6) + lit(0.0)).as("dist"))
      .orderBy(col("step"))
  }

  /** DuckDB replay: the K−1 steps unrolled as CTE pairs — `cK`
    * (argmax row) and `dK` (dmin refresh), the same shape as the
    * Lloyd unroll in [[KMeans.modelCtes]]. */
  val kCenterSql: String = {
    def d2s(a: String, b: String) =
      s"GREATEST(0.0, ROUND($a.xx - 2 * list_dot_product($a.v, $b.cv) + $b.cc, 9))"
    val steps = (2 to K).map { k =>
      val prev = s"d${k - 1}"
      // d$k MATERIALIZED: each step's corpus state is referenced by
      // BOTH the next argmax and the next refresh — without the hint
      // DuckDB may inline it twice per step, expanding the replay
      // ~2^K-fold (the q53/q147 ×10 lesson — invisible at the gate
      // SFs, intractable on staged scale corpora)
      s"""c$k AS (SELECT vec_id, v AS cv, xx AS cc, dmin
         |  FROM $prev ORDER BY dmin DESC, vec_id LIMIT 1),
         |d$k AS MATERIALIZED (
         |  SELECT p.vec_id, p.v, p.xx, LEAST(p.dmin, ${d2s("p", "c")}) AS dmin
         |  FROM $prev p, c$k c)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to K).map(k =>
      s"SELECT CAST($k AS BIGINT) AS step, vec_id, ROUND(sqrt(dmin), 6) + 0.0 AS dist FROM c$k")
      .mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_dot_product(CAST(embedding AS DOUBLE[]),
      |                     CAST(embedding AS DOUBLE[])) AS xx
      |  FROM embeddings),
      |s1 AS (SELECT v AS cv, xx AS cc FROM e WHERE vec_id = 0),
      |d1 AS MATERIALIZED (
      |  SELECT p.vec_id, p.v, p.xx, ${d2s("p", "s")} AS dmin
      |  FROM e p, s1 s),
      |$steps
      |SELECT CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS vec_id,
      |  CAST(NULL AS DOUBLE) AS dist
      |UNION ALL $rows
      |ORDER BY step""".stripMargin
  }
}
