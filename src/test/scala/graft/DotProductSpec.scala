package graft

import graft.functions.VectorOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("native expression is bit-identical to the HOF fold (doubles)") {
    val gen = for {
      a <- Gen.listOfN(64, Gen.choose(-10.0, 10.0))
      b <- Gen.listOfN(64, Gen.choose(-10.0, 10.0))
    } yield (a, b)
    (1 to 25).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { case (a, b) =>
        val df = Seq((a, b)).toDF("a", "b")
        val native = df.select(VectorOps.dot($"a", $"b")).as[Double].head()
        val hof = df.select(VectorOps.dotHof($"a", $"b")).as[Double].head()
        assert(native === hof) // exact: same order, same casts
      }
    }
  }

  test("native expression matches HOF on float32 arrays from parquet") {
    val e = Tables.embeddings(spark, sfDir).limit(20)
    val rows = e.as("a").crossJoin(e.as("b"))
      .select(
        VectorOps.dot(col("a.embedding"), col("b.embedding")).as("n"),
        VectorOps.dotHof(col("a.embedding"), col("b.embedding")).as("h"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("mismatched lengths yield null, exactly like the HOF") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.select(VectorOps.dot($"a", $"b").as("n"),
      VectorOps.dotHof($"a", $"b").as("h")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null elements yield null, exactly like the HOF") {
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))))
      .toDF("a", "b")
    val r = df.select(VectorOps.dot($"a", $"b").as("n"),
      VectorOps.dotHof($"a", $"b").as("h")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null input array yields null (nullIntolerant)") {
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    val r = df.select(VectorOps.dot($"a", $"b")).collect().head
    assert(r.isNullAt(0))
  }

  test("vec_dot / vec_negdot register through GraftExtensions for SQL") {
    val out = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "vec_negdot(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS nd")
      .collect().head
    assert(out.getDouble(0) === 11.0)
    assert(out.getDouble(1) === -1.0)
  }
}
