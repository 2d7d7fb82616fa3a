package graft.ops

import graft.Corpus
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search") at reference dimensionality: split the
  * 1024-d document vectors into M=8 subspaces of 128 dims, learn
  * K=16 centroids per subspace (two deterministic Lloyd iterations,
  * first-K init — the same recipe as [[KMeans]]), encode every vector
  * as 8 small codes, and answer queries with an asymmetric-distance
  * (ADC) lookup table: 8×16 query-to-centroid distances replace full
  * 1024-d scans.
  *
  * Scale story: the encoded corpus is M bytes per vector instead of
  * 8192 (codes shuffle/broadcast freely); query cost is M table
  * lookups + adds per candidate. This is the memory-bound regime
  * ivfflat can't reach — the standard billion-vector layout.
  *
  * Determinism: subspace distances round to 9 decimals with
  * centroid-id tiebreaks, centroid updates are exact-decimal means,
  * ADC sums accumulate in DECIMAL — the oracle unrolls the identical
  * training, encoding, and scoring.
  */
object PQ {

  val M = 8          // subspaces
  val SubDim = 128   // dims per subspace (M * SubDim = 1024)
  val K = 16         // centroids per subspace
  val LloydIters = 2 // deterministic re-centering rounds

  /** Squared L2 with the self-dots PRE-computed once per side:
    * ⟨x,x⟩ − 2⟨x,c⟩ + ⟨c,c⟩, rounded 9 — identical arithmetic order
    * to inlining the three dots, but the per-candidate work drops
    * from three 128-d dots to one (⟨x,x⟩ rides on the subvector row,
    * ⟨c,c⟩ on the centroid row). */
  private def d2(xx: Column, x: Column, c: Column, cc: Column): Column =
    round(xx - lit(2.0) * VectorOps.dot(x, c) + cc, 9)

  /** (vec_id, m, sv, xx): every vector exploded into its M
    * subvectors, each carrying its self-dot. The featurized vectors
    * are materialized FIRST — the M slice expressions would otherwise
    * re-evaluate the featurizer subtree once per subspace. */
  private[graft] def subvecs(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.docEmbeddings(spark, sfDir).pin()
      .select(col("vec_id"), explode(array((0 until M).map { m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * SubDim + 1, SubDim).as("sv"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
      .withColumn("xx", VectorOps.dot(col("sv"), col("sv")))

  /** Nearest-centroid assignment within each subspace: broadcast-join
    * the K centroids, then take the (dist, cid)-minimal candidate per
    * (vec_id, m) with a map-side-combinable `min_by` aggregate — the
    * K candidate rows of a group never leave their partition (a
    * window would shuffle every candidate row WITH its subvector
    * payload: K × corpus × SubDim doubles per assignment pass). The
    * (dist, cid) struct ordering reproduces the window's
    * dist-then-cid tiebreak exactly. */
  private def assign(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents), Seq("m"))
      .withColumn("dist", d2(col("xx"), col("sv"), col("cv"), col("cc")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"),
        first(col("sv")).as("sv"), first(col("xx")).as("xx"))
      .select(col("vec_id"), col("m"), col("sv"), col("xx"), col("cid"))

  /** Exact-decimal per-dimension re-centering of an assignment via
    * the native [[graft.expressions.VecDecimalSumAgg]] aggregate — one
    * pass over the subvectors, one partial buffer per ((m, cid) ×
    * partition) through the shuffle (exact decimal addition is
    * order-independent, so partial/merge order never matters). Values
    * bit-identical to the posexplode shape the oracle unrolls
    * (VecDecimalSumSpec); the explode materialized n·SubDim rows and
    * hash-probed per element (r15). */
  private[graft] def recenter(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("m"), col("cid"))
      .agg(graft.expressions.VecDecimalSumAgg.sumCastDouble(col("sv")).as("s"),
        count(lit(1)).as("n"))
      .select(col("m"), col("cid"),
        transform(col("s"), x => round(x / col("n"), 9)).as("cv"))
      .withColumn("cc", VectorOps.dot(col("cv"), col("cv")))

  /** q67: PQ-ANN — train, encode, ADC-score against query vec_id=0,
    * top-10 by approximate distance. */
  def pqAnn(spark: SparkSession, sfDir: String): DataFrame = {
    // eager pin, not cache: the returned plan is lazy, so
    // a cache()+unpersist() pair around plan CONSTRUCTION would be
    // dropped before the first action; the checkpoint materializes
    // the exploded subvectors once for their ~6 downstream uses
    val sub: DataFrame = subvecs(spark, sfDir).pin()
    var cents = sub.filter(col("vec_id") < K)
      .select(col("m"), col("vec_id").cast("int").as("cid"),
        col("sv").as("cv"), col("xx").as("cc"))
    for (_ <- 1 to LloydIters)
      cents = Materialize.advance(cents, recenter(assign(sub, cents)))
    val codes = assign(sub, cents).select(col("vec_id"), col("m"), col("cid"))
    val qsub = sub.filter(col("vec_id") === 0)
      .select(col("m"), col("sv").as("qv"), col("xx").as("qxx"))
    val table = cents.join(broadcast(qsub), Seq("m"))
      .select(col("m"), col("cid"),
        d2(col("qxx"), col("qv"), col("cv"), col("cc")).as("t"))
    codes.filter(col("vec_id") =!= 0)
      .join(broadcast(table), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("t").cast("decimal(28,12)")).cast("double"), 9)
        .as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id"))
      .limit(10)
      .select(col("vec_id").as("n_id"), col("approx_d2"))
  }

  val pqAnnSql: String = {
    def d2Sql(xx: String, x: String, c: String, cc: String) =
      s"ROUND($xx - 2 * list_dot_product($x, $c) + $cc, 9)"
    def assignSql(cents: String) =
      s"""SELECT vec_id, m, sv, xx, cid FROM (
         |    SELECT s.vec_id, s.m, s.sv, s.xx, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${d2Sql("s.xx", "s.sv", "c.cv", "c.cc")}, c.cid) AS rn
         |    FROM sub s JOIN $cents c ON c.m = s.m)
         |  WHERE rn = 1""".stripMargin
    def recenterSql(assigned: String) =
      s"""SELECT m, cid, cv, list_dot_product(cv, cv) AS cc FROM (
         |    SELECT m, cid, list(mm ORDER BY i) AS cv FROM (
         |      SELECT m, cid, i,
         |        ROUND(CAST(SUM(CAST(sv[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 9) AS mm
         |      FROM $assigned CROSS JOIN generate_series(1, $SubDim) AS t(i)
         |      GROUP BY m, cid, i)
         |    GROUP BY m, cid)""".stripMargin
    val lloyd = (1 to LloydIters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""a$i AS (${assignSql(prev)}),
         |c$i AS MATERIALIZED (
         |  ${recenterSql(s"a$i")})""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Corpus.docEmbCte},
      |sub AS MATERIALIZED (
      |  SELECT vec_id, m, sv, list_dot_product(sv, sv) AS xx FROM (
      |    SELECT vec_id, m, v[(m * $SubDim + 1):(m * $SubDim + $SubDim)] AS sv
      |    FROM demb CROSS JOIN generate_series(0, ${M - 1}) AS t(m))),
      |c0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS cv, xx AS cc
      |       FROM sub WHERE vec_id < $K),
      |$lloyd,
      |codes AS (
      |  SELECT vec_id, m, cid FROM (${assignSql(s"c$LloydIters")})),
      |qsub AS (SELECT m, sv AS qv, xx AS qxx FROM sub WHERE vec_id = 0),
      |tbl AS (
      |  SELECT c.m, c.cid, ${d2Sql("q.qxx", "q.qv", "c.cv", "c.cc")} AS t
      |  FROM c$LloydIters c JOIN qsub q ON q.m = c.m)
      |SELECT vec_id AS n_id,
      |  ROUND(CAST(SUM(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 9) AS approx_d2
      |FROM codes JOIN tbl USING (m, cid)
      |WHERE vec_id <> 0
      |GROUP BY vec_id
      |ORDER BY approx_d2, n_id
      |LIMIT 10""".stripMargin
  }
}
