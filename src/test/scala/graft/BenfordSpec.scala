package graft

import graft.ops.Benford
import org.apache.spark.sql.functions._

/** Benford audit contract (q214): exact first-digit extraction at
  * power-of-ten boundaries, the probability table, the dense-grid
  * zero-digit rule, and a driver replay of χ² on real data. */
class BenfordSpec extends SparkSpec {
  import spark.implicits._

  private def rnd(x: Double, n: Int): Double =
    BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** First significant digit of a positive amount via exact-decimal
    * cents — never float formatting or log10 (engine-divergent at
    * power-of-ten boundaries). */
  private def firstDigitCents(x: org.apache.spark.sql.Column) =
    substring(round(x * 100).cast("long").cast("string"), 1, 1).cast("int")

  test("first-digit extraction is exact, including boundary amounts") {
    val cases = Seq(
      0.01 -> 1, 0.09 -> 9, 1.0 -> 1, 9.99 -> 9,
      10.0 -> 1, 99.994 -> 9,          // 9999.39... cents → 9999
      99.996 -> 1,                     // 9999.59... cents → 10000
      123.45 -> 1, 987.65 -> 9, 1000.0 -> 1)
    val got = cases.map(_._1).toDF("x")
      .select(firstDigitCents(col("x"))).as[Int].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("Benford probabilities are a complete distribution") {
    assert(Benford.BenfordP.length === 9)
    assert(Benford.BenfordP.map(BigDecimal(_)).sum === BigDecimal(1))
    assert(Benford.BenfordP === Benford.BenfordP.sorted.reverse,
      "monotone decreasing in digit")
  }

  test("sub-half-cent amounts are excluded by the cents rule, with accounting") {
    // 0.004 rounds to 0 cents: no digit exists — the row must leave
    // n entirely, not vanish after being counted
    val rows = (Seq.fill(5)(("p", 10.0)) :+ (("p", 0.004)))
      .toDF("priority", "amount")
    val out = Benford.auditOf(rows).collect()
    assert(out.map(_.getLong(2)).sum === 5L, "only the 5 valid amounts count")
    // a priority with NO valid amounts never enters the report
    val empty = Seq(("q", 0.004)).toDF("priority", "amount")
    assert(Benford.auditOf(empty).collect().isEmpty)
  }

  test("zero-observation digits still contribute n·p to χ² (dense grid)") {
    // every amount starts with digit 1 → for d=2..9, chi2_part = n·p
    val rows = Seq.fill(10)(("p", 12.3)).toDF("priority", "amount")
    val out = Benford.auditOf(rows).collect()
    assert(out.length === 9)
    val byDigit = out.map(r => r.getInt(1) -> r).toMap
    assert(byDigit(1).getLong(2) === 10L)
    for (d <- 2 to 9) {
      assert(byDigit(d).getLong(2) === 0L)
      assert(byDigit(d).getDouble(5) ===
        rnd(10.0 * Benford.BenfordP(d - 1), 9),
        s"digit $d must contribute n·p")
    }
    // chi2 is the decimal sum of the rounded parts
    val want = rnd(out.map(r => BigDecimal(r.getDouble(5)).setScale(9,
      BigDecimal.RoundingMode.HALF_UP)).sum.toDouble, 6)
    assert(out.map(_.getDouble(6)).distinct.toSeq === Seq(want))
  }

  test("q214 replays from collected amounts") {
    val rows = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (pri, vs) =>
        // Spark's round on double is HALF_UP on the shortest decimal
        // rendering — replay with the same BigDecimal semantics
        val digits = vs.map { case (_, x) =>
          BigDecimal(x * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP)
            .toLong.toString.charAt(0).asDigit }
        val n = digits.size
        val parts = (1 to 9).map { d =>
          val nd = digits.count(_ == d)
          val e = n * Benford.BenfordP(d - 1)
          (d, nd, rnd((nd - e) * (nd - e) / e, 9))
        }
        val chi2 = rnd(parts.map(p => BigDecimal(p._3).setScale(9,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble, 6)
        parts.map { case (d, nd, cp) =>
          (pri, d, nd.toLong, rnd(nd.toDouble / n, 6),
            Benford.BenfordP(d - 1), cp, chi2)
        }
    }
    val got = Benford.benfordAudit(spark, sfDir).collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq === want)
  }
}
