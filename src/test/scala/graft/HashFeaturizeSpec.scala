package graft

import graft.expressions.HashFeaturize
import graft.functions.{Embeddings, VectorOps}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class HashFeaturizeSpec extends SparkSpec {
  import spark.implicits._

  /** The HOF formulation of `Embeddings.featurize`, the portable
    * reference implementation. It unrolls one `aggregate` per output
    * dimension (a dims× duplicated subtree), so it is ~3 orders of
    * magnitude slower than the native expression at dims=64. */
  private def featurizeHof(text: org.apache.spark.sql.Column,
      dims: Int = Embeddings.Dims) = {
    val hashes = transform(graft.functions.TextOps.tokens(text),
      t => graft.functions.TextOps.hash60(t))
    val raw = transform(sequence(lit(0), lit(dims - 1)), i =>
      aggregate(hashes, lit(0.0), (acc, h) =>
        acc + when(pmod(h, lit(dims)) === i,
          when(pmod(shiftright(h, 6), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))).otherwise(lit(0.0))))
    VectorOps.l2Normalize(raw)
  }

  test("native featurizer is bit-identical to the HOF formulation") {
    // random word soups incl. casing, punctuation, digits, unicode
    val word = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("Fast", "MERGE", "window", "café", "a_b", "42", "x!y"))
    val gen = Gen.listOfN(12, word).map(_.mkString(" "))
    val texts = (1 to 30).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("", "   ", "!!! ??? ...", "the the the", "a")
    val df = texts.toDF("t")
    val rows = df.select(
        Embeddings.featurize($"t").as("n"),
        featurizeHof($"t").as("h"))
      .as[(Seq[Double], Seq[Double])].collect()
    rows.foreach { case (n, h) => assert(n === h) }
  }

  test("JVM hash60 equals TextOps.hash60 on seeded strings") {
    def str(lo: Char, hi: Char) = Gen.listOf(Gen.choose(lo, hi)).map(_.mkString)
    val gen = Gen.oneOf(Gen.alphaNumStr, str(' ', '~'), str('\u00a0', '\ud7ff'),
      Gen.listOfN(2000, Gen.alphaChar).map(_.mkString))
    val texts = (1 to 40).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("", " ", "café", "日本語のテキスト", "\uD83D\uDE00 emoji", "x" * 100000)
    val engine = texts.toDF("t")
      .select(graft.functions.TextOps.hash60($"t")).as[Long].collect()
    assert(texts.map(s => HashFeaturize.hash60(s)) === engine.toSeq)
  }

  test("deterministic, unit norm (when non-empty), fixed dims") {
    val v1 = Seq("alpha beta gamma").toDF("t")
      .select(Embeddings.featurize($"t")).as[Seq[Double]].head()
    val v2 = Seq("alpha beta gamma").toDF("t")
      .select(Embeddings.featurize($"t")).as[Seq[Double]].head()
    assert(v1 === v2)
    assert(v1.length === Embeddings.Dims)
    assert(math.abs(v1.map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("zero tokens -> all-zero vector (zero-norm passthrough)") {
    val v = Seq("!!! ???").toDF("t")
      .select(Embeddings.featurize($"t")).as[Seq[Double]].head()
    assert(v.forall(_ === 0.0))
    assert(v.length === Embeddings.Dims)
  }

  test("null text -> null vector") {
    val r = Seq(Option.empty[String]).toDF("t")
      .select(Embeddings.featurize($"t")).collect().head
    assert(r.isNullAt(0))
  }

  test("matches the oracle hash rule on a known token") {
    // bucket/sign must agree with TextOps.hash60 semantics
    val df = Seq("merge").toDF("t")
    val h = df.select(graft.functions.TextOps.hash60($"t")).as[Long].head()
    val v = df.select(Embeddings.featurize($"t")).as[Seq[Double]].head()
    val bucket = (h % Embeddings.Dims).toInt
    val sign = if (((h >> 6) & 1L) == 0L) 1.0 else -1.0
    assert(v(bucket) === sign) // single token -> unit vector on its bucket
  }

  test("vec_featurize returns unboxed UnsafeArrayData") {
    val v = HashFeaturize(Literal("hello world"), 64).eval()
    assert(v.isInstanceOf[UnsafeArrayData], v.getClass.getName)
  }

  test("vec_query_dot is bit-identical to vec_dot over the stored vector") {
    val word = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("Fast", "merge", "WINDOW", "red", "widget", "bolt", "café",
        "naïve", "日本語", "a_b", "42", "x!y", "...", "—"))
    val text: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      1 -> Gen.oneOf("!!!", "... ??? ---", "   ").map(Some(_)),
      4 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, word))
        .map(w => Some(w.mkString(" "))),
      3 -> Gen.listOfN(100, word).map(w => Some(w.mkString(" "))))
    val texts = (1 to 30).flatMap(i =>
      text.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(texts.size === 30)
    // repartitioned so the projection runs in the plan, not folded
    // into a local relation at optimization time
    val df = texts.toDF("t").repartition(2)
    val queries = Seq("red widget bolt", "fast merge window",
      "Merge merge MERGE the window", "!!!")
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    val prev = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      .map(k => k -> spark.conf.getOption(k))
    var nonZero = 0
    try for ((factory, wholeStage) <- modes; query <- queries) {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val q = Embeddings.embedStored(lit(query))
      val rows = df.select($"t", Embeddings.queryDot($"t", q),
        VectorOps.dot(Embeddings.embedStored($"t"), q)).collect()
      assert(rows.length === texts.size)
      rows.foreach { r =>
        val ctx = s"$factory, query '$query', text '${r.get(0)}'"
        assert(r.isNullAt(1) === r.isNullAt(2), ctx)
        if (!r.isNullAt(2)) {
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)), ctx)
          if (r.getDouble(2) != 0.0) nonZero += 1
        }
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(nonZero > 0, "every generated case scored zero")
  }

  test("vec_featurize registers through GraftExtensions for SQL") {
    val out = spark.sql(
      "SELECT size(vec_featurize('hello world')) AS d64, " +
        "size(vec_featurize('hello world', 16)) AS d16")
      .collect().head
    assert(out.getInt(0) === 64)
    assert(out.getInt(1) === 16)
  }

  test("vec_query_dot registers through GraftExtensions for SQL") {
    Seq(Some("Fast merge window"), Some("red widget"), None).toDF("t")
      .repartition(2).createOrReplaceTempView("query_dot_probe")
    val rows = spark.sql(
      """SELECT t,
        |  vec_query_dot(t, slice(vec_featurize('merge window', 32), 1, 8), 32),
        |  vec_dot(slice(vec_featurize(t, 32), 1, 8),
        |    slice(vec_featurize('merge window', 32), 1, 8)),
        |  vec_query_dot(t, slice(vec_featurize('merge window'), 1, 8)),
        |  vec_dot(slice(vec_featurize(t), 1, 8),
        |    slice(vec_featurize('merge window'), 1, 8))
        |FROM query_dot_probe""".stripMargin).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      for (k <- Seq(1, 3)) {
        assert(r.isNullAt(k) === r.isNullAt(k + 1), r)
        if (!r.isNullAt(k))
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(k)) ===
            java.lang.Double.doubleToRawLongBits(r.getDouble(k + 1)), r)
      }
    }
    assert(rows.exists(r => !r.isNullAt(1) && r.getDouble(1) != 0.0))
  }
}
