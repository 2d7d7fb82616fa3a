package graft

import graft.functions.{Embeddings, TextOps}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens: \\w+ lowercase semantics (search.py:104)") {
    val t = Seq("Hello, World_x 42!").toDF("s")
      .select(TextOps.tokens($"s")).as[Seq[String]].head()
    assert(t === Seq("hello", "world_x", "42"))
  }

  test("ftsMatch: any-term overlap; null haystack stays null-strict (Q5)") {
    val df = Seq(
      ("alpha beta", "beta"), (null: String, "beta"), ("alpha", "gamma")
    ).toDF("hay", "q")
    val got = df.select(TextOps.ftsMatch($"hay", $"q").as("m"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(got.toSeq === Seq(true, null, false))
  }

  test("snippet: window around first hit, fallback head (search.py:102-112)") {
    val text = ("x" * 150) + "needle" + ("y" * 150)
    val hit = Seq(text).toDF("c")
      .select(TextOps.snippet($"c", "needle")).as[String].head()
    assert(hit.startsWith("... ") && hit.endsWith(" ...") &&
      hit.contains("needle"))
    val miss = Seq(text).toDF("c")
      .select(TextOps.snippet($"c", "absent")).as[String].head()
    assert(miss === text.take(200) + "...")
  }

  test("langId: stopword-profile argmax with und fallback") {
    val got = Seq("the cat and the hat is it", "der hund ist nicht das",
      "zzz qqq").toDF("s")
      .select(TextOps.langId($"s")).as[String].collect().toSeq
    assert(got === Seq("en", "de", "und"))
  }

  test("fingerprint: case/punct/whitespace-insensitive identity") {
    val df = Seq("Hello,   World!", "hello world", "hello worlds").toDF("s")
      .select(TextOps.fingerprint($"s")).as[Long].collect()
    assert(df(0) === df(1))
    assert(df(1) != df(2))
  }

  test("shingles: 3-gram windows; short doc collapses to one") {
    val s = Seq("a b c d e").toDF("t")
      .select(TextOps.shingles($"t")).as[Seq[String]].head()
    assert(s === Seq("a b c", "b c d", "c d e"))
    val short = Seq("a b").toDF("t")
      .select(TextOps.shingles($"t")).as[Seq[String]].head()
    assert(short === Seq("a b"))
  }

  test("featurizer: deterministic, unit norm, fixed dims") {
    val f1 = Seq("spark fast merge").toDF("t")
      .select(Embeddings.featurize($"t")).as[Seq[Double]].head()
    val f2 = Seq("spark fast merge").toDF("t")
      .select(Embeddings.featurize($"t")).as[Seq[Double]].head()
    assert(f1 === f2 && f1.length === 64)
    assert(math.abs(math.sqrt(f1.map(x => x * x).sum) - 1.0) < 1e-9)
  }

  test("domainOf matches urlparse netloc (db.py:61)") {
    val d = Seq("https://d7.test/p/123?x=1").toDF("u")
      .select(TextOps.domainOf($"u")).as[String].head()
    assert(d === "d7.test")
  }

  test("mojibake audit: planted damage detected, clean docs stay clean") {
    import graft.ops.TextAnalysis
    val rows = TextAnalysis.mojibakeAudit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // independent replay over the raw docs
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .collect()
    def plant(id: Long, t: String): String = {
      val e = if (id % 13 == 0) t.replace("e", "Ã©") else t
      if (id % 17 == 0) e.replace(" ", "â€”") else e
    }
    def hits(t: String): Long = TextAnalysis.MojibakeSignatures.map { sig =>
      var n = 0L; var i = t.indexOf(sig)
      while (i >= 0) { n += 1; i = t.indexOf(sig, i + sig.length) }
      n
    }.sum
    val expected = docs.groupBy(_.getString(1)).map { case (src, ds) =>
      val hs = ds.map(r => hits(plant(r.getLong(0), r.getString(2))))
      src -> (ds.length.toLong, hs.count(_ > 0).toLong, hs.sum)
    }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (n, corrupt, total) = expected(src)
      assert(r.getAs[Long]("n_docs") === n, s"$src docs")
      assert(r.getAs[Long]("n_corrupt") === corrupt, s"$src corrupt")
      assert(r.getAs[Long]("n_hits") === total, s"$src hits")
    }
    // the plant actually fired and undamaged docs are not flagged
    assert(rows.map(_.getAs[Long]("n_corrupt")).sum > 0)
    val flagged = docs.count { r =>
      hits(plant(r.getLong(0), r.getString(2))) > 0 }
    val damaged = docs.count(r => r.getLong(0) % 13 == 0 || r.getLong(0) % 17 == 0)
    assert(flagged <= damaged, "a clean doc was flagged")
  }
}
