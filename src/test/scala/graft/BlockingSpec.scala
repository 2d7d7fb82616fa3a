package graft

import graft.ops.Blocking
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The blocked self-join every near-duplicate and record-linkage
  * query takes its candidates from, checked against brute force on
  * seeded rows: null keys, ids under several keys, one- and two-column
  * keys, on 1 and 4 partitions. */
class BlockingSpec extends SparkSpec {
  import spark.implicits._

  /** (id, k1, k2, v): ids repeat with different keys, keys are often
    * null, and the small key domains make collisions common. */
  private val rowGen: Gen[(Long, Option[Int], Option[String], Int)] = for {
    id <- Gen.choose(0L, 15L)
    k1 <- Gen.option(Gen.choose(0, 4))
    k2 <- Gen.option(Gen.oneOf("x", "y"))
    v <- Gen.choose(-100, 100)
  } yield (id, k1, k2, v)

  private def sampled(seed: Long): Seq[(Long, Option[Int], Option[String], Int)] =
    Gen.listOfN(40, rowGen).apply(Gen.Parameters.default, Seed(seed)).get

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def forSeedsAndPartitions(body: (Long, Int) => Unit): Unit =
    for (seed <- 1L to 8L; parts <- Seq(1, 4))
      GraftSession.withConfs(spark,
          Seq("spark.sql.shuffle.partitions" -> parts.toString)) {
        body(seed, parts)
      }

  test("pairs equals the brute-force cross join on equal non-null keys") {
    forSeedsAndPartitions { (seed, parts) =>
      val rows = sampled(seed).toDF("id", "k1", "k2", "v").repartition(parts)
      for (keys <- Seq(Seq("k1"), Seq("k1", "k2"))) {
        val got = Blocking.pairs(rows, "id", keys: _*)
        val rest = Seq("k1", "k2", "v").filterNot(keys.contains)
        assert(got.columns.toSeq === Seq("a_id", "b_id") ++
          rest.map("a_" + _) ++ rest.map("b_" + _))
        val same = keys.map(k => col(s"a.$k").isNotNull &&
          col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
        val brute = rows.as("a").crossJoin(rows.as("b"))
          .filter(same && $"a.id" < $"b.id")
          .select(Seq($"a.id", $"b.id") ++ rest.map(c => col(s"a.$c")) ++
            rest.map(c => col(s"b.$c")): _*)
        assert(rowsOf(got) === rowsOf(brute),
          s"seed $seed, $parts partitions, keys $keys")
      }
    }
  }

  test("distinct pairs are the id pairs that share at least one key") {
    forSeedsAndPartitions { (seed, parts) =>
      val sample = sampled(seed)
      val inv = sample.map { case (id, k1, _, _) => (id, k1) }
        .toDF("id", "key").repartition(parts)
      val got = Blocking.pairs(inv, "id", "key").distinct()
        .as[(Long, Long)].collect().toSet
      val keysOf = sample.groupBy(_._1)
        .map { case (id, rs) => id -> rs.flatMap(_._2).toSet }.toSeq
      val want = (for {
        (a, ka) <- keysOf
        (b, kb) <- keysOf
        if a < b && (ka & kb).nonEmpty
      } yield (a, b)).toSet
      assert(want.nonEmpty, s"seed $seed shares no key: the case is vacuous")
      assert(got === want, s"seed $seed, $parts partitions")
    }
  }

  test("byteBands: every pair within n-1 bits shares a band") {
    // 32-bit hashes with planted copies 1 to 3 bits away
    val gen = Gen.listOfN(30, Gen.choose(0L, (1L << 32) - 1))
    val base = gen.apply(Gen.Parameters.default, Seed(7L)).get
    val flips = Gen.listOfN(30, Gen.listOfN(3, Gen.choose(0, 31)))
      .apply(Gen.Parameters.default, Seed(8L)).get
    val hashes = base ++ base.zip(flips).map { case (h, bs) =>
      bs.foldLeft(h)((x, b) => x ^ (1L << b)) }
    val rows = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("id", "h")
    val banded = Blocking.byteBands(rows, "h", 4)
    assert(banded.columns.toSeq === Seq("id", "h", "band", "key"))
    banded.as[(Long, Long, Int, Long)].collect().foreach { case (_, h, b, k) =>
      assert(k === ((h >> (8 * b)) & 255L))
    }
    assert(banded.count() === 4L * hashes.size)
    val got = Blocking.pairs(banded, "id", "band", "key").distinct()
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val close = for {
      (ha, a) <- hashes.zipWithIndex; (hb, b) <- hashes.zipWithIndex
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a.toLong, b.toLong)
    assert(close.size >= base.size, "the planted copies are not close")
    assert(close.toSet.subsetOf(got))
  }
}
