package graft

import graft.expressions.NfcNormalize
import graft.ops.Unicode
import org.apache.spark.sql.functions._

/** NFC normalization contract (q209): UAX #15 composition cases
  * through both the static method and the codegen'd expression, the
  * injected SQL function, and the census' planted-twin accounting. */
class UnicodeSpec extends SparkSpec {
  import spark.implicits._

  private val nfd = "café"   // e + combining acute (U+0301)
  private val nfc = "café"    // precomposed U+00E9

  test("static NFC: composition, idempotence, fast-path identity") {
    assert(NfcNormalize.nfc(nfd) === nfc)
    assert(NfcNormalize.nfc(nfc) === nfc)
    // Hangul jamo compose algorithmically under NFC: KIYEOK + A -> GA
    assert(NfcNormalize.nfc("가") === "가")
    // ASCII fast path returns the SAME instance (isNormalized short-circuit)
    val ascii = "plain ascii text"
    assert(NfcNormalize.nfc(ascii) eq ascii)
    // non-BMP text (surrogate pairs) passes through unharmed
    val emoji = "ok 😀 done"
    assert(NfcNormalize.nfc(emoji) === emoji)
  }

  test("column expression matches the static method (codegen path)") {
    val inputs = Seq(nfd, nfc, "", "äb̊", "각",
      s"mixed $nfd $nfc", "😀é")
    val got = inputs.toDF("s")
      .select(NfcNormalize.nfc(col("s"))).as[String].collect().toSeq
    assert(got === inputs.map(NfcNormalize.nfc))
    // null-safety
    val n = Seq[Option[String]](None).toDF("s")
      .select(NfcNormalize.nfc(col("s"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("nfc_normalize as an injected SQL function matches the Column API") {
    Seq(nfd, nfc, "plain").toDF("s").createOrReplaceTempView("nfc_probe")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(s) FROM nfc_probe").as[String].collect().toSeq
    val viaCol = spark.table("nfc_probe")
      .select(NfcNormalize.nfc(col("s"))).as[String].collect().toSeq
    assert(viaSql === viaCol)
  }

  test("q209 census: NFD twins collapse, plain twins do not") {
    val out = Unicode.nfcDedup(spark, sfDir).collect()
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    var sawCollapse = false
    for (r <- out) {
      val src = r.getString(0)
      val mine = docs.filter(_._2 == src)
      // driver restaging of the three variant families
      val staged =
        mine.map(d => d._3 + " café") ++
        mine.filter(_._1 % 3 == 0).map(d => d._3 + " café") ++
        mine.filter(_._1 % 3 == 1).map(d => d._3 + " cafe")
      assert(r.getLong(1) === staged.length.toLong, s"row accounting for $src")
      val exact = staged.toSet.size.toLong
      val nfcG = staged.map(NfcNormalize.nfc(_: String)).toSet.size.toLong
      assert(r.getLong(2) === exact, s"exact groups for $src")
      assert(r.getLong(3) === nfcG, s"nfc groups for $src")
      assert(r.getLong(4) === exact - nfcG, "collapsed is exact - nfc")
      // the collapse is EXACTLY the planted NFD twins (bases are NFC-clean)
      assert(r.getLong(4) ===
        mine.filter(_._1 % 3 == 0).map(_._3).toSet.size.toLong,
        s"collapse count for $src equals distinct NFD-twinned texts")
      if (r.getLong(4) > 0) sawCollapse = true
    }
    assert(sawCollapse, "the fixture must exercise the collapse path")
  }
}
