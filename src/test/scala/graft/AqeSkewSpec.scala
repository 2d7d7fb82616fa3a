package graft

import graft.ops.AqeSkew

/** AQE skew-join (q187): answer parity with the plain unscoped join
  * (skew handling is a pure physical rewrite), the in-query skew
  * assert itself (it ran ⇒ the split engaged), and conf hygiene. */
class AqeSkewSpec extends SparkSpec {
  import spark.implicits._

  // sf0.001's hot partition is too small to trip even the scoped
  // thresholds reliably; the skew machinery needs real bytes
  private val dir = "/root/testdata/sf0.01"

  test("skew-split answer equals the plain unscoped join") {
    import org.apache.spark.sql.functions._
    val got = AqeSkew.skewJoinRollup(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    val e = Tables.events(spark, dir)
      .select(when(pmod($"user_id", lit(3)) === 0, lit(0L))
        .otherwise($"user_id").as("k"), $"value")
    val dim = Tables.customer(spark, dir)
      .select($"c_custkey".as("k"), $"c_mktsegment".as("segment"))
    val plain = e.join(dim, Seq("k"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(28,10)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy($"segment")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === plain)
    assert(got.nonEmpty)
  }

  test("scoped confs are restored after the query") {
    // the operator's OWN scoped-conf list (not a hand-copied subset):
    // a restore regression in any key it touches must land here
    val keys = AqeSkew.ScopedConfs.map(_._1)
    val before = keys.map(k => k -> spark.conf.getOption(k))
    AqeSkew.skewJoinRollup(spark, dir).collect()
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(after === before, "q187 must not leak its scoped confs")
    // getOption reads a default for an absent key; only getAll shows a
    // key restored to its default instead of unset, and only in a
    // session where no earlier run left it set (see ConfScopeSpec)
    val fresh = spark.newSession()
    val all = fresh.conf.getAll
    AqeSkew.skewJoinRollup(fresh, dir).collect()
    assert(fresh.conf.getAll === all, "q187 left keys set")
  }
}
