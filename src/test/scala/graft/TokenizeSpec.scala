package graft

import graft.expressions.{FtsMatch, Tokens}
import graft.functions.TextOps
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native tokenizer against the regex rule it replaces: on
  * generated text, [[Tokens]] equals `filter(split(lower(t),
  * '[^a-z0-9_]+'), x -> x != '')` and [[FtsMatch]] equals
  * `arrays_overlap` over those arrays, plain and Porter2-stemmed, with
  * the query both constant and per row, under generated code and
  * under the interpreter. */
class TokenizeSpec extends SparkSpec {
  import spark.implicits._

  /** The regex rule, kept here as the reference. */
  private def hofTokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9_]+"), t => t =!= "")

  private def hofMatch(text: Column, query: Column, stemmed: Boolean) =
    if (stemmed) arrays_overlap(transform(hofTokens(text), TextOps.stem _),
      transform(hofTokens(query), TextOps.stem _))
    else arrays_overlap(hofTokens(text), hofTokens(query))

  private val words = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf("Fast", "merge", "WINDOW", "Widgets", "gearing", "sorted",
      "widget", "gear", "running", "\u212Aelvin", "KELVIN", "\u0130stanbul",
      "\u0130x", "DIŞ", "Iñigo", "Iñ", "ÉCOLE", "\u0130I", "café",
      "naïve", "日本語", "straße", "ﬁle", "a_b",
      "_", "__init__", "42", "x!y", "...", "—", "MiXeD_42"))

  private val seps = Gen.oneOf(" ", "  ", ", ", "-", ".", "\t", "\n", "/",
    " ")

  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    1 -> Gen.oneOf("!!!", "... ??? ---", "   ", "——").map(Some(_)),
    6 -> (for {
      n <- Gen.choose(1, 12)
      ws <- Gen.listOfN(n, words)
      ss <- Gen.listOfN(n, seps)
    } yield Some(ws.zip(ss).map { case (w, s) => w + s }.mkString)))

  private val texts: Seq[Option[String]] = (1 to 80).flatMap(i =>
    text.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Constant queries: hits, misses, folds into ASCII, no tokens, null. */
  private val queries: Seq[Option[String]] = Seq(Some("widget"),
    Some("Widgets GEARING"), Some("kelvin"), Some("\u212Aelvin x"),
    Some("i x"), Some("istanbul"), Some("_ 42"), Some("a_b merge"),
    Some("sort running"), Some("!!!"), Some(""), None)

  /** Runs `body` under generated code (whole stage on) and under the
    * interpreter (whole stage off). */
  private def inBothModes(body: String => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
        "NO_CODEGEN" -> "false")) {
      spark.conf.set(keys(0), factory)
      spark.conf.set(keys(1), wholeStage)
      body(factory)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // repartitioned so projections run in the plan, not folded into a
  // local relation at optimization time
  private def frame = texts.toDF("t").repartition(2)

  private def bool(r: Row, i: Int): Option[Boolean] =
    if (r.isNullAt(i)) None else Some(r.getBoolean(i))

  test("text_tokens equals the regex rule on generated text") {
    assert(texts.size === 80 && texts.contains(None) && texts.contains(Some("")))
    assert(Tokens(org.apache.spark.sql.catalyst.expressions.Literal("x")).dataType ===
      ArrayType(StringType, containsNull = false))
    inBothModes { mode =>
      val rows = frame.select($"t", TextOps.tokens($"t"), hofTokens($"t"))
        .collect()
      assert(rows.length === texts.size)
      rows.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"$mode, text '${r.get(0)}'")
      }
      assert(rows.exists(r => !r.isNullAt(1) && r.getSeq[String](1).nonEmpty))
    }
  }

  test("the scan follows lower's folds into ASCII") {
    // U+212A KELVIN SIGN lowers to ASCII k, U+0130 to i + U+0307
    val got = Seq("\u212Aelvin", "\u0130x", "Iñ", "ÉCOLE_9")
      .toDF("t").repartition(1)
      .select(TextOps.tokens($"t")).as[Seq[String]].collect().toSeq
    assert(got === Seq(Seq("kelvin"), Seq("i", "x"), Seq("i"), Seq("cole_9")))
  }

  for (stemmed <- Seq(false, true)) {
    val kind = if (stemmed) "stemmed" else "plain"
    def fused(t: Column, q: Column) =
      if (stemmed) TextOps.ftsMatchStemmed(t, q) else TextOps.ftsMatch(t, q)

    test(s"$kind fts match equals arrays_overlap for constant queries") {
      inBothModes { mode =>
        val cols = queries.flatMap { q =>
          val ql = lit(q.orNull).cast("string")
          Seq(fused($"t", ql), hofMatch($"t", ql, stemmed))
        }
        val rows = frame.select($"t" +: cols: _*).collect()
        var hits = 0
        for (r <- rows; (q, k) <- queries.zipWithIndex) {
          val (got, want) = (bool(r, 1 + 2 * k), bool(r, 2 + 2 * k))
          assert(got === want, s"$mode, query '$q', text '${r.get(0)}'")
          if (got.contains(true)) hits += 1
          if (q.isEmpty) assert(got.isEmpty)
          if (q.contains("!!!") && !r.isNullAt(0)) assert(got.contains(false))
        }
        assert(hits > 0, s"$mode: no generated text matched any query")
      }
    }

    test(s"$kind fts match equals arrays_overlap for per-row queries") {
      inBothModes { mode =>
        val pairs = texts.zip(texts.reverse) ++ texts.zip(queries ++ queries ++
          queries ++ queries ++ queries ++ queries ++ queries)
        val rows = pairs.toDF("t", "q").repartition(2)
          .select($"t", $"q", fused($"t", $"q"), hofMatch($"t", $"q", stemmed))
          .collect()
        assert(rows.length === pairs.size)
        rows.foreach { r =>
          assert(bool(r, 2) === bool(r, 3), s"$mode, query '${r.get(1)}', text '${r.get(0)}'")
        }
        assert(rows.exists(r => bool(r, 2).contains(true)))
      }
    }
  }

  test("text_tokens, fts_match and fts_match_stemmed register for SQL") {
    frame.createOrReplaceTempView("tokenize_probe")
    val viaSql = spark.sql(
      """SELECT t, text_tokens(t) AS toks,
        |  fts_match(t, 'Widgets merge') AS m,
        |  fts_match_stemmed(t, 'widget gear') AS ms
        |FROM tokenize_probe""".stripMargin)
    val plan = viaSql.queryExecution.analyzed.toString
    assert(plan.contains("text_tokens") && plan.contains("fts_match_stemmed"), plan)
    val rows = viaSql.select($"toks", hofTokens($"t"),
      $"m", hofMatch($"t", lit("Widgets merge"), stemmed = false),
      $"ms", hofMatch($"t", lit("widget gear"), stemmed = true)).collect()
    assert(rows.length === texts.size)
    rows.foreach { r =>
      assert(Option(r.getSeq[String](0)) === Option(r.getSeq[String](1)))
      assert(bool(r, 2) === bool(r, 3))
      assert(bool(r, 4) === bool(r, 5))
    }
    assert(rows.exists(r => bool(r, 4).contains(true)))
  }

  test("fts_match and text_tokens reject non-string inputs") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(FtsMatch(Literal("a"), Literal(1), stemmed = false)
      .checkInputDataTypes().isFailure)
    assert(Tokens(Literal(1)).checkInputDataTypes().isFailure)
    assert(Tokens(Literal("a")).checkInputDataTypes().isSuccess)
  }
}
