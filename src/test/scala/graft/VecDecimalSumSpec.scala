package graft

import graft.functions.VectorOps
import graft.ops.{KMeans, PQ}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality gate for the r15 native re-centering aggregate
  * ([[graft.expressions.VecDecimalSumAgg]]) against the posexplode +
  * decimal-hash-agg shape it replaced: every declared k-means /
  * PQ oracle hash depends on these means being IDENTICAL, so the
  * comparison is on raw double BITS, not approximate equality. */
class VecDecimalSumSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The pre-r15 posexplode formulation of `KMeans.updateDocBy`: the
    * parity reference for the bit-equality gate. */
  private def updateDocByExplode(assigned: DataFrame,
      keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    assigned.select(kc :+ posexplode(col("v")).as(Seq("i", "x")): _*)
      .groupBy(kc :+ col("i"): _*)
      .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 9).as("m"),
        count(lit(1)).as("nn"))
      .groupBy(kc: _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("cv"),
        max(col("nn")).as("n"))
      .withColumn("cc", VectorOps.dot(col("cv"), col("cv")))
  }

  /** The pre-r15 posexplode formulation of `PQ.recenter`: the parity
    * reference for the bit-equality gate. */
  private def recenterExplode(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("cid"), posexplode(col("sv")))
      .toDF("m", "cid", "i", "x")
      .groupBy(col("m"), col("cid"), col("i"))
      .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 9).as("mm"))
      .groupBy(col("m"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mm")))),
        s => s.getField("mm")).as("cv"))
      .withColumn("cc", VectorOps.dot(col("cv"), col("cv")))

  /** Collect (key → (cv bits, n)) maps and compare exactly. */
  private def assertSame(fast: DataFrame, ref: DataFrame,
      keys: Seq[String]): Unit = {
    def slurp(df: DataFrame): Map[Seq[Any], (Seq[Long], Any)] =
      df.collect().map { r =>
        val k = keys.map(c => r.get(r.fieldIndex(c)))
        val cv = r.getSeq[Double](r.fieldIndex("cv")).map(bits)
        val n = if (r.schema.fieldNames.contains("n"))
          r.get(r.fieldIndex("n")) else null
        k -> ((cv, n))
      }.toMap
    val f = slurp(fast)
    val g = slurp(ref)
    assert(f.keySet == g.keySet)
    f.foreach { case (k, (cv, n)) =>
      assert(cv == g(k)._1, s"cv bits diverge for key $k")
      assert(n == g(k)._2, s"n diverges for key $k")
    }
  }

  test("updateDocBy ≡ explode shape on the real 1024-d corpus") {
    val vecs = KMeans.docVectors(spark, sfDir)
    // a deterministic non-trivial grouping: 7 pseudo-clusters
    val assigned = vecs.select(pmod(col("vec_id"), lit(7)).as("cid"),
      col("v")).localCheckpoint()
    assertSame(
      KMeans.updateDocBy(assigned, Seq("cid")),
      updateDocByExplode(assigned, Seq("cid")), Seq("cid"))
  }

  test("updateDocBy ≡ explode shape on adversarial values") {
    import spark.implicits._
    // negatives, halves that exercise HALF_UP, values near the scale-12
    // quantum, magnitudes large enough to overflow the long accumulator
    // when summed (5e6 · 1e12 · 4000 rows > 2^63), and exact zeros
    val specials = Seq(0.0, -0.0, 0.5e-12, -0.5e-12, 1.25e-13, 3.0,
      -2.718281828459045, 5.0e6, -5.0e6, 0.1, -0.3)
    val rows = (0 until 4000).map { r =>
      val v = (0 until 24).map { i =>
        if ((r + i) % 5 == 0) specials((r * 24 + i) % specials.size)
        else math.sin(r * 24 + i) * math.pow(10.0, (i % 7) - 3)
      }
      (r % 3, v)
    }
    val assigned = rows.toDF("cid", "v").localCheckpoint()
    assertSame(
      KMeans.updateDocBy(assigned, Seq("cid")),
      updateDocByExplode(assigned, Seq("cid")), Seq("cid"))
  }

  test("both shapes fail loudly past decimal(28,12) precision (ANSI)") {
    import spark.implicits._
    val bad = Seq((0, Seq(1.0e16, 2.0))).toDF("cid", "v").localCheckpoint()
    intercept[Throwable] {
      KMeans.updateDocBy(bad, Seq("cid")).collect()
    }
    intercept[Throwable] {
      updateDocByExplode(bad, Seq("cid")).collect()
    }
  }

  test("null elements are skipped, matching the explode shape (r16)") {
    import spark.implicits._
    // posexplode emits a null row per null element and `sum` skips it
    // while `count(lit(1))` still counts the row — the native walk
    // must reproduce exactly that (isNullAt guard, VERDICT r15 #6)
    val rows = (0 until 300).map { r =>
      val v: Seq[java.lang.Double] = (0 until 8).map { i =>
        if ((r + i) % 11 == 0) null
        else java.lang.Double.valueOf(math.cos(r * 8 + i) * 3.7)
      }
      (r % 3, v)
    }
    val assigned = rows.toDF("cid", "v").localCheckpoint()
    assertSame(
      KMeans.updateDocBy(assigned, Seq("cid")),
      updateDocByExplode(assigned, Seq("cid")), Seq("cid"))
  }

  test("ragged vector widths fail loudly (declared contract, r16)") {
    import spark.implicits._
    // one fit processes one fixed-dimension corpus; the explode
    // shape's (key, i) grouping would silently mix widths instead —
    // the native aggregate throws, and the scaladoc declares it
    val ragged = Seq((0, Seq(1.0, 2.0)), (0, Seq(1.0, 2.0, 3.0)))
      .toDF("cid", "v").localCheckpoint()
    val e = intercept[Throwable] {
      KMeans.updateDocBy(ragged, Seq("cid")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(_.contains("ragged")),
      s"expected the ragged-input message, got: ${msgs(e)}")
  }

  test("PQ recenter ≡ explode shape on the real subvector corpus") {
    val sub = PQ.subvecs(spark, sfDir).localCheckpoint()
    val assigned = sub.withColumn("cid",
      pmod(col("vec_id"), lit(5)).cast("int"))
    val fast = PQ.recenter(assigned).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getSeq[Double](2).map(bits), bits(r.getDouble(3)))).toMap
    val ref = recenterExplode(assigned).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getSeq[Double](2).map(bits), bits(r.getDouble(3)))).toMap
    assert(fast.keySet == ref.keySet)
    fast.foreach { case (k, v) => assert(v == ref(k), s"diverges at $k") }
  }
}
