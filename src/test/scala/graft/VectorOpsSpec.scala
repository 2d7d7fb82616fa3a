package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic property check: evaluate `gen` on 20 fixed seeds. */
  private def forAllSampled[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 20).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(body)
    }

  /** The reference's full embedding post-processing chain:
    * normalize THEN truncate/pad (`tasks.py:86-88`, quirk Q1). */
  private def normalizeThenPad(v: org.apache.spark.sql.Column, dims: Int) =
    VectorOps.truncateOrPad(VectorOps.l2Normalize(v), dims)

  private def vec(xs: Seq[Double]) =
    Seq(Tuple1(xs)).toDF("v")

  test("dot = manual inner product, left-fold order") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(VectorOps.dot($"a", $"b")).as[Double].head()
    assert(d === 32.0)
  }

  test("negDot is pgvector <#> (negative inner product, quirk Q2)") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
    assert(df.select(VectorOps.negDot($"a", $"b")).as[Double].head() === -1.0)
  }

  test("l2Normalize yields unit norm; zero vector passes through") {
    val n = vec(Seq(3.0, 4.0))
      .select(VectorOps.l2Norm(VectorOps.l2Normalize($"v")))
      .as[Double].head()
    assert(math.abs(n - 1.0) < 1e-12)
    val z = vec(Seq(0.0, 0.0))
      .select(VectorOps.l2Normalize($"v")).as[Seq[Double]].head()
    assert(z === Seq(0.0, 0.0)) // reference embeddings.py:65-71 behavior
  }

  test("truncateOrPad: truncates long, zero-pads short, fixes length") {
    val long = vec((1 to 10).map(_.toDouble))
      .select(VectorOps.truncateOrPad($"v", 4)).as[Seq[Double]].head()
    assert(long === Seq(1.0, 2.0, 3.0, 4.0))
    val short = vec(Seq(1.0, 2.0))
      .select(VectorOps.truncateOrPad($"v", 5)).as[Seq[Double]].head()
    assert(short === Seq(1.0, 2.0, 0.0, 0.0, 0.0))
  }

  test("quirk Q1: normalize-then-truncate is NOT unit norm (faithful)") {
    val v = (1 to 8).map(_.toDouble)
    val n = vec(v)
      .select(VectorOps.l2Norm(normalizeThenPad($"v", 4)))
      .as[Double].head()
    assert(n < 1.0) // truncation after normalize drops mass
  }

  test("property: cosine symmetric and in [-1, 1]") {
    val gen = for {
      a <- Gen.listOfN(8, Gen.choose(-10.0, 10.0))
      b <- Gen.listOfN(8, Gen.choose(-10.0, 10.0))
    } yield (a, b)
    forAllSampled(gen) { case (a, b) =>
      if (a.exists(_ != 0.0) && b.exists(_ != 0.0)) {
        val df = Seq((a, b)).toDF("a", "b")
        val c1 = df.select(VectorOps.cosine($"a", $"b")).as[Double].head()
        val c2 = df.select(VectorOps.cosine($"b", $"a")).as[Double].head()
        assert(math.abs(c1 - c2) < 1e-9)
        assert(c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9)
      }
    }
  }

  test("property: normalize is idempotent") {
    val gen = Gen.listOfN(6, Gen.choose(-5.0, 5.0))
      .suchThat(_.exists(x => math.abs(x) > 1e-3))
    forAllSampled(gen) { a =>
      val df = Seq(Tuple1(a)).toDF("v")
      val once = df.select(VectorOps.l2Normalize($"v").as("v"))
      val twice = once.select(VectorOps.l2Normalize($"v").as("v"))
      val v1 = once.as[Seq[Double]].head()
      val v2 = twice.as[Seq[Double]].head()
      v1.zip(v2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }
}
