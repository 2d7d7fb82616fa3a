package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The algebra the serving KNN chains ([[graft.ops.Search]]'s
  * nearest-neighbour helper) rest on: under
  * `(distance asc NULLS LAST, id)` the rows with `distance <= t` are a
  * prefix of the order, because NULL and NaN sort after every number
  * and fail the filter. So taking the top k and then filtering returns
  * exactly what filtering and then taking the top k returns. */
class NearestSpec extends SparkSpec {

  private val distance: Gen[Option[Double]] = Gen.frequency(
    4 -> Gen.choose(-1.0, 1.0).map(Some(_)),
    3 -> Gen.oneOf(-0.5, -0.0, 0.0, 0.05, 0.5).map(Some(_)), // ties
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.const(None))

  /** Inside the distances' range, on tie values, and outside it. */
  private val threshold: Gen[Double] = Gen.oneOf(
    Gen.choose(-1.0, 1.0), Gen.oneOf(-0.5, 0.0, 0.05, 0.5, -5.0, 5.0))

  private val cases = for {
    n <- Gen.choose(0, 24)
    ds <- Gen.listOfN(n, distance)
    ids <- Gen.pick(n, 0L until 1000L)
    k <- Gen.choose(1, 8)
    t <- threshold
  } yield (ds.zip(ids.toSeq), k, t)

  private val schema = StructType(Seq(
    StructField("distance", DoubleType), StructField("id", LongType)))

  test("filter <= t then top k equals top k (NULLS LAST) then filter <= t") {
    for (i <- 1 to 30; (rows, k, t) <- cases(Gen.Parameters.default, Seed(i.toLong))) {
      // three partitions: per-partition top-k heaps and a merge, as in serving
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (d, id) => Row(d.map(Double.box).orNull, id) }, 3),
        schema)
      val filterFirst = df.filter(col("distance") <= t)
        .orderBy(col("distance"), col("id")).limit(k)
      val limitFirst = df.orderBy(col("distance").asc_nulls_last, col("id"))
        .limit(k).filter(col("distance") <= t)
      assert(limitFirst.collect().toSeq == filterFirst.collect().toSeq,
        s"case $i: k=$k t=$t rows=$rows")
    }
  }
}
