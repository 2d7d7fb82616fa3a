package graft

import graft.expressions.NearestCentroid
import graft.functions.VectorOps
import graft.ops.KMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity contract of the native nearest_centroid argmin against the
  * relational crossJoin+min_by reference shape. */
class NearestCentroidSpec extends SparkSpec {

  /** Relational assignment, the parity reference shape: one row per
    * (vector, centroid) through a broadcast join + min_by, on the
    * squared distance `KMeans` uses. */
  private def assignDocRelational(vecs: DataFrame, cents: DataFrame) =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dist", round(col("xx")
        - lit(2.0) * VectorOps.dot(col("v"), col("cv")) + col("cc"), 9))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"),
        first(col("v")).as("v"), first(col("xx")).as("xx"))

  test("native assignment is bit-identical to the relational shape") {
    val vecs = KMeans.docVectors(spark, sfDir)
    val (model, assignedNative) =
      KMeans.docModelAndAssignments(spark, sfDir)
    val native = assignedNative
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val relational = assignDocRelational(vecs, model)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native.size == relational.size)
    assert(native == relational)
  }

  test("tie on distance breaks to the smaller cid regardless of array order") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "v")
      .withColumn("xx", lit(1.0))
    // two identical centroids, larger cid FIRST in insertion order
    val cents = Seq((7, Seq(0.5, 0.5), 0.5), (3, Seq(0.5, 0.5), 0.5))
      .toDF("cid", "cv", "cc")
    val out = vecs.crossJoin(
      cents.agg(collect_list(struct(col("cid"), col("cv"), col("cc")))
        .as("cents")))
      .select(NearestCentroid.nearestCentroid(
        col("v"), col("xx"), col("cents")).as("cid"))
      .head.getInt(0)
    assert(out == 3)
  }

  test("dimension mismatch fails loudly") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "v")
      .withColumn("xx", lit(1.0))
    val cents = Seq((0, Seq(0.5, 0.5), 0.5)).toDF("cid", "cv", "cc")
    val ex = intercept[Exception] {
      vecs.crossJoin(
        cents.agg(collect_list(struct(col("cid"), col("cv"), col("cc")))
          .as("cents")))
        .select(NearestCentroid.nearestCentroid(
          col("v"), col("xx"), col("cents")).as("cid"))
        .collect()
    }
    // pin the CONTRACT, not just "some exception": the loud message
    // must come from the expression's own dims guard
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m =>
      m != null && m.contains("nearest_centroid") && m.contains("dims")),
      s"expected the nearest_centroid dims guard, got: ${messages(ex)}")
  }
}
