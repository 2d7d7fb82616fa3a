package graft.ops

import graft.Tables
import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding compression and batch-shaping for training pipelines:
  * symmetric int8 vector quantization (the 4× storage/bandwidth lever
  * every 100 TB embedding store pulls before sharding) and
  * length-bucketed sequence batching (padding-waste accounting — the
  * difference between paying for max-length and paying for
  * bucket-length on every training batch).
  */
object Quant {

  // ---- q103: symmetric int8 quantization ---------------------------

  /** q103: quantize each embedding to int8 with a per-vector scale
    * (max|x|/127), reconstruct, and report per-label fidelity: worst
    * absolute reconstruction error and mean cosine(original,
    * reconstructed). One scan, all HOFs — no shuffle until the final
    * tiny per-label aggregate. Determinism: scale and error round to
    * 9 before aggregation, cosines accumulate in DECIMAL.
    */
  def int8Quant(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("scale",
        round(aggregate(col("v"), lit(0.0d),
          (acc, x) => greatest(acc, abs(x))) / lit(127.0d), 9))
      // zero vector → scale 0 → quantized all-zero, reconstructs exactly
      .withColumn("q", transform(col("v"), x =>
        when(col("scale") === 0.0, lit(0L))
          .otherwise(round(x / col("scale"), 0).cast("long"))))
      .withColumn("recon", transform(col("q"), q => q * col("scale")))
      .withColumn("max_abs_err",
        round(aggregate(zip_with(col("v"), col("recon"),
          (a, b) => abs(a - b)), lit(0.0d),
          (acc, x) => greatest(acc, x)), 9))
      .withColumn("cos", round(VectorOps.cosine(col("v"), col("recon")), 9))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(max(col("max_abs_err")), 6).as("worst_abs_err"),
        round(sum(col("cos").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_cosine"))
      .orderBy(col("label"))
  }

  val int8QuantSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |scaled AS (
      |  SELECT vec_id, label, v,
      |    ROUND(list_aggregate(list_transform(v, x -> abs(x)), 'max')
      |      / 127.0, 9) AS scale
      |  FROM e),
      |quant AS (
      |  SELECT vec_id, label, v, scale,
      |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0
      |      ELSE CAST(ROUND(x / scale, 0) AS BIGINT) END) AS q
      |  FROM scaled),
      |recon AS (
      |  SELECT vec_id, label, v, scale,
      |    list_transform(q, x -> x * scale) AS r
      |  FROM quant),
      |err AS (
      |  SELECT label,
      |    ROUND(list_aggregate(
      |      list_transform(list_zip(v, r), p -> abs(p[1] - p[2])),
      |      'max'), 9) AS max_abs_err,
      |    ROUND(CASE WHEN sqrt(list_dot_product(v, v))
      |                  * sqrt(list_dot_product(r, r)) = 0 THEN 0.0
      |      ELSE list_dot_product(v, r)
      |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(r, r)))
      |      END, 9) AS cos
      |  FROM recon)
      |SELECT label, COUNT(*) AS n,
      |  ROUND(MAX(max_abs_err), 6) AS worst_abs_err,
      |  ROUND(CAST(SUM(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_cosine
      |FROM err GROUP BY label
      |ORDER BY label""".stripMargin

  // ---- q104: length-bucketed batch padding waste --------------------

  /** Power-of-two token-length buckets. */
  val BucketEdges: Seq[Int] = Seq(16, 32, 64, 128, 256, 512)

  /** q104: padding-waste accounting for length-bucketed batching —
    * per bucket: docs, real tokens, padded tokens at the bucket
    * ceiling, and the waste ratio vs padding everything to the global
    * max. One scan + one tiny aggregate; the bucket id is a pure
    * per-row expression, so at 100 TB this is a single partial-agg
    * shuffle on ≤7 keys. */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = BucketEdges
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tok"))
    // ceiling = first edge ≥ n_tok, else global max length (no cap)
    val ceilExpr = edges.foldRight(col("n_tok")) { (e, acc) =>
      when(col("n_tok") <= e, lit(e)).otherwise(acc)
    }
    val b = docs.withColumn("bucket", ceilExpr)
    val global = b.agg(max(col("n_tok")).as("gmax"),
      count(lit(1)).cast("double").as("n_all"))
    b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("real_tokens"),
        sum(col("bucket") - col("n_tok")).as("pad_tokens"))
      .crossJoin(broadcast(global))
      .select(col("bucket"), col("n_docs"), col("real_tokens"),
        col("pad_tokens"),
        round(col("pad_tokens").cast("double")
          / (col("bucket") * col("n_docs")).cast("double"), 6)
          .as("waste_frac"),
        round(lit(1.0) - (col("bucket") * col("n_docs")).cast("double")
          / (col("gmax") * col("n_docs")).cast("double"), 6)
          .as("saved_vs_maxpad"))
      .orderBy(col("bucket"))
  }

  val lengthBucketsSql: String = {
    val tok = TextOps.tokSql()
    val ceilCase = BucketEdges.map(e => s"WHEN n_tok <= $e THEN $e")
      .mkString("CASE ", " ", " ELSE n_tok END")
    s"""WITH docs AS (
      |  SELECT doc_id, len($tok) AS n_tok FROM documents),
      |b AS (SELECT doc_id, n_tok, $ceilCase AS bucket FROM docs),
      |g AS (SELECT MAX(n_tok) AS gmax FROM b)
      |SELECT bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
      |  CAST(SUM(bucket - n_tok) AS BIGINT) AS pad_tokens,
      |  ROUND(CAST(SUM(bucket - n_tok) AS DOUBLE)
      |    / CAST(bucket * COUNT(*) AS DOUBLE), 6) AS waste_frac,
      |  ROUND(1.0 - CAST(bucket * COUNT(*) AS DOUBLE)
      |    / CAST(g.gmax * COUNT(*) AS DOUBLE), 6) AS saved_vs_maxpad
      |FROM b CROSS JOIN g
      |GROUP BY bucket, g.gmax
      |ORDER BY bucket""".stripMargin
  }

  // ---- q115: Johnson–Lindenstrauss random projection ----------------

  /** JL target dimensionality (64 → 16: 4× compression). */
  val JlK = 16

  /** Source dimensionality of the embeddings table. */
  val JlD = 64

  /** Audit sample bound: pairwise distortion is measured over vectors
    * with vec_id below this (the projection itself is applied
    * corpus-wide in one scan; only the AUDIT is quadratic, and it
    * runs on a fixed-size sample regardless of corpus size). */
  val JlSample = 200

  /** jlSigns(j)(i) ∈ {-1,+1}: Rademacher projection matrix from the
    * engine's md5 hash rule (`hash60("jl{j}_{i}") % 2` — the q27
    * hyperplane derivation with a distinct salt), rendered as
    * identical literals into both plans. */
  lazy val jlSigns: Seq[Seq[Double]] =
    (0 until JlK).map { j =>
      (0 until JlD).map { i =>
        if (graft.expressions.HashFeaturize.hash60(s"jl${j}_$i") % 2 == 0) 1.0
        else -1.0
      }
    }

  /** q115: Johnson–Lindenstrauss random projection (Achlioptas 2003
    * database-friendly ±1 variant) of the embeddings to [[JlK]]
    * dimensions, with a pairwise-distance distortion audit — the
    * public-method replacement for the reference's dead SVD-reduce
    * path (`embeddings.py` P9, never called).
    *
    * The projection applies CORPUS-WIDE in one scan (each output
    * coordinate is a ±1-signed sum over the input — no shuffle at
    * all), and the output row carries corpus-wide stats (n_vectors,
    * avg projected norm) so that scan is observable, not prunable.
    * Only the pairwise-distance AUDIT is quadratic, and it
    * cross-joins a [[JlSample]]-vector sample against itself —
    * explicitly sample-bounded, never corpus × corpus. Distances use
    * d²(a,b) = aa + bb − 2ab so every term is a left-fold dot
    * product both engines evaluate in the same order. */
  def jlProject(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = math.sqrt(JlK.toDouble)
    def project(df: DataFrame): DataFrame = df
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("p", array(jlSigns.map(row =>
        VectorOps.dot(col("v"), typedLit(row)) / lit(scale)): _*))
    // corpus-wide projection: one scan, constant-size aggregate
    val corpus = project(Tables.embeddings(spark, sfDir))
      .select(round(sqrt(VectorOps.dot(col("p"), col("p"))), 9).as("pn"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("pn").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_proj_norm"))
    // sample-bounded distortion audit
    val e = project(Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < JlSample))
      .select(col("vec_id"), col("v"), col("p"),
        VectorOps.dot(col("v"), col("v")).as("vv"),
        VectorOps.dot(col("p"), col("p")).as("pp"))
      .pin() // both sides of the audit cross join
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"),
      col("p").as("pa"), col("vv").as("aa"), col("pp").as("paa"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("p").as("pb"), col("vv").as("bb"), col("pp").as("pbb"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("a_id") < col("b_id"))
      .withColumn("d2o", col("aa") + col("bb")
        - lit(2.0) * VectorOps.dot(col("va"), col("vb")))
      .withColumn("d2p", col("paa") + col("pbb")
        - lit(2.0) * VectorOps.dot(col("pa"), col("pb")))
      .filter(col("d2o") > 0)
      .withColumn("ratio", round(sqrt(col("d2p") / col("d2o")), 9))
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      round(sum(col("ratio").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("avg_ratio"),
      round(min(col("ratio")), 6).as("min_ratio"),
      round(max(col("ratio")), 6).as("max_ratio"),
      round(sum(when(abs(col("ratio") - 1.0) <= 0.2, 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("frac_within_20pct"))
      .crossJoin(broadcast(corpus))
  }

  val jlProjectSql: String = {
    val signRows = jlSigns.map(_.map(s =>
      if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    s"""WITH signs AS (SELECT ${signRows}::DOUBLE[][] AS m),
      |corpus_proj AS (
      |  SELECT list_transform(range(1, $JlK + 1),
      |      j -> list_dot_product(CAST(embedding AS DOUBLE[]), m[j])
      |           / sqrt($JlK)) AS p
      |  FROM embeddings CROSS JOIN signs),
      |corpus_stats AS (
      |  SELECT COUNT(*) AS n_vectors,
      |    ROUND(CAST(SUM(CAST(ROUND(sqrt(list_dot_product(p, p)), 9)
      |        AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_proj_norm
      |  FROM corpus_proj),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < $JlSample),
      |proj AS (
      |  SELECT vec_id, v,
      |    list_transform(range(1, $JlK + 1),
      |      j -> list_dot_product(v, m[j]) / sqrt($JlK)) AS p
      |  FROM e CROSS JOIN signs),
      |withn AS (
      |  SELECT vec_id, v, p, list_dot_product(v, v) AS vv,
      |    list_dot_product(p, p) AS pp
      |  FROM proj),
      |pairs AS (
      |  SELECT ROUND(sqrt((a.pp + b.pp - 2 * list_dot_product(a.p, b.p))
      |      / (a.vv + b.vv - 2 * list_dot_product(a.v, b.v))), 9) AS ratio
      |  FROM withn a JOIN withn b ON a.vec_id < b.vec_id
      |  WHERE a.vv + b.vv - 2 * list_dot_product(a.v, b.v) > 0),
      |audit AS (
      |  SELECT COUNT(*) AS n_pairs,
      |    ROUND(CAST(SUM(CAST(ratio AS DECIMAL(28,12))) AS DOUBLE)
      |      / COUNT(*), 6) AS avg_ratio,
      |    ROUND(MIN(ratio), 6) AS min_ratio,
      |    ROUND(MAX(ratio), 6) AS max_ratio,
      |    ROUND(CAST(SUM(CASE WHEN ABS(ratio - 1.0) <= 0.2 THEN 1 ELSE 0 END)
      |        AS DOUBLE) / COUNT(*), 6) AS frac_within_20pct
      |  FROM pairs)
      |SELECT n_pairs, avg_ratio, min_ratio, max_ratio, frac_within_20pct,
      |  n_vectors, avg_proj_norm
      |FROM audit CROSS JOIN corpus_stats""".stripMargin
  }
}
