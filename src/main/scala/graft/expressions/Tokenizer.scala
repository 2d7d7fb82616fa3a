package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one tokenizer: the maximal runs of ASCII `[a-z0-9_]`
  * bytes in the UTF-8 bytes of `lower(text)`.
  *
  * That is the regex rule `filter(split(lower(t), '[^a-z0-9_]+'),
  * x -> x != '')` exactly: a byte of a multi-byte UTF-8 character is
  * ≥ 0x80 and never matches, so tokens split there as the regex splits
  * at the character. Lowercasing is Spark's own `lower` for
  * UTF8_BINARY text under `spark.sql.icu.caseMappings.enabled`, so
  * folds that land in ASCII (U+212A KELVIN SIGN → `k`, U+0130 → `i`
  * plus a combining dot) come out as the regex sees them. All-ASCII
  * text skips the lowercased copy: the scan maps `A-Z` to `a-z` as it
  * reads, which is all `lower` does to ASCII.
  *
  * [[Tokens]], [[FtsMatch]], [[HashFeaturize]], [[HashQueryDot]] and
  * the streaming LSH's JVM-side shingler all scan through here.
  */
object Tokenizer {

  /** The case mapping Spark's `lower` uses in this session (read as
    * `Lower` reads it). */
  def useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @inline private[expressions] def isTokByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '_'

  /** The tokens of `s` as an `array<string>` with no nulls, in one
    * `UnsafeArrayData` allocation: a counting pass sizes it, a second
    * pass copies the lowercased token bytes in. */
  def tokens(s: UTF8String, icu: Boolean): ArrayData = {
    val scan = new TokenScan(s, icu)
    var n = 0
    var data = 0L
    while (scan.next()) {
      n += 1
      data += ByteArrayMethods.roundNumberOfBytesToNearestWord(scan.length)
    }
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(n)
    val size = header + 8L * n + data
    require(size <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"$n tokens take $size bytes, more than one array can hold")
    val bytes = new Array[Byte](size.toInt)
    Platform.putLong(bytes, Platform.BYTE_ARRAY_OFFSET, n.toLong)
    scan.reset()
    var k = 0
    var at = header + 8L * n
    while (scan.next()) {
      Platform.putLong(bytes, Platform.BYTE_ARRAY_OFFSET + header + 8L * k,
        (at << 32) | scan.length)
      scan.copyTo(bytes, at.toInt)
      at += ByteArrayMethods.roundNumberOfBytesToNearestWord(scan.length)
      k += 1
    }
    val out = new UnsafeArrayData
    out.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET, size.toInt)
    out
  }

  /** The tokens of `s` as JVM strings. */
  def tokenStrings(s: UTF8String, icu: Boolean): Array[String] = {
    val scan = new TokenScan(s, icu)
    val out = Array.newBuilder[String]
    while (scan.next()) out += scan.string
    out.result()
  }

  /** Column API: [[Tokens]]. */
  def tokens(text: Column): Column =
    ColumnBridge.column(Tokens(ColumnBridge.expression(text)))

  /** Column API: [[FtsMatch]]. */
  def ftsMatch(text: Column, query: Column, stemmed: Boolean): Column =
    ColumnBridge.column(FtsMatch(ColumnBridge.expression(text),
      ColumnBridge.expression(query), stemmed))

  /** Type check: every argument is a string. */
  private[expressions] def checkStrings(fn: String,
      args: Expression*): TypeCheckResult =
    args.find(!_.dataType.isInstanceOf[StringType]) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(a) => TypeCheckResult.TypeCheckFailure(
        s"$fn requires string inputs, got ${a.dataType.simpleString}")
    }
}

/** A cursor over the tokens of one text: each `next()` moves
  * `start`/`end` to the next token, whose lowercased bytes `byteAt`
  * reads. */
final class TokenScan(s: UTF8String, icu: Boolean) {
  private val t =
    if (s.isFullAscii) s
    else CollationSupport.Lower.exec(s,
      CollationFactory.UTF8_BINARY_COLLATION_ID, icu)
  private val base = t.getBaseObject
  private val off = t.getBaseOffset
  private val n = t.numBytes
  var start = 0
  var end = 0

  /** Byte `k` of the lowercased text. */
  @inline def byteAt(k: Int): Byte = {
    val b = Platform.getByte(base, off + k)
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
  }

  def length: Int = end - start

  /** Moves to the next token; false once the text is spent. */
  def next(): Boolean = {
    var i = end
    while (i < n && !Tokenizer.isTokByte(byteAt(i))) i += 1
    if (i >= n) false
    else {
      var j = i + 1
      while (j < n && Tokenizer.isTokByte(byteAt(j))) j += 1
      start = i
      end = j
      true
    }
  }

  /** Back to before the first token. */
  def reset(): Unit = { start = 0; end = 0 }

  /** Copies the token's bytes into `dst` from index `at`. */
  def copyTo(dst: Array[Byte], at: Int): Unit = {
    var k = 0
    while (k < length) { dst(at + k) = byteAt(start + k); k += 1 }
  }

  /** The token equals the (lowercase ASCII) bytes `q`. */
  def equalsBytes(q: Array[Byte]): Boolean =
    q.length == length && {
      var k = 0
      while (k < q.length && q(k) == byteAt(start + k)) k += 1
      k == q.length
    }

  /** The token as a JVM string (tokens are ASCII). */
  def string: String = {
    val b = new Array[Byte](length)
    copyTo(b, 0)
    new String(b, java.nio.charset.StandardCharsets.US_ASCII)
  }
}

/** `text_tokens(text)`: the [[Tokenizer]]'s tokens of `text` — the same
  * `array<string>` (no nulls) as `filter(split(lower(text),
  * '[^a-z0-9_]+'), x -> x != '')`, without the regex split or the
  * lambda, so the surrounding stage stays whole-stage codegen'd. Null
  * text → null. */
case class Tokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    Tokenizer.checkStrings("text_tokens", child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private lazy val icu = Tokenizer.useICU

  override def nullSafeEval(input: Any): Any =
    Tokenizer.tokens(input.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.Tokenizer.tokens($c, $icu)")

  override protected def withNewChildInternal(
      newChild: Expression): Tokens = copy(child = newChild)

  override def prettyName: String = "text_tokens"
}

/** A full-text query's distinct tokens (or, stemmed, their distinct
  * Porter2 stems), and the test of one text against them. */
final class FtsQuery private (tokens: Array[Array[Byte]],
    stems: Set[String], icu: Boolean) extends Serializable {

  /** Some token of `text` is a query token; the scan stops at the
    * first hit and builds no array. */
  def matches(text: UTF8String): Boolean = {
    if (tokens.isEmpty) return false
    val scan = new TokenScan(text, icu)
    while (scan.next()) {
      if (stems != null) {
        if (stems(graft.functions.Porter2.stem(scan.string))) return true
      } else {
        var k = 0
        while (k < tokens.length) {
          if (scan.equalsBytes(tokens(k))) return true
          k += 1
        }
      }
    }
    false
  }
}

object FtsQuery {
  def of(query: UTF8String, stemmed: Boolean, icu: Boolean): FtsQuery = {
    val toks = Tokenizer.tokenStrings(query, icu).distinct
    new FtsQuery(toks.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      if (stemmed) toks.map(graft.functions.Porter2.stem).toSet else null, icu)
  }
}

/** Full-text match: some token of `text` equals some token of
  * `query` — `arrays_overlap(tokens(text), tokens(query))`, or with
  * `stemmed`, the overlap of both sides' Porter2 stems — as one scan of
  * the text that stops at the first hit and builds no array. Null text
  * or query → null; a query with no tokens → false (the overlap with
  * an empty array).
  *
  * A foldable query (every serving caller passes a literal) is
  * tokenized once per expression instance and handed to generated
  * code as one reference object; any other query is tokenized per
  * row. */
case class FtsMatch(text: Expression, query: Expression, stemmed: Boolean)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = query
  override def checkInputDataTypes(): TypeCheckResult =
    Tokenizer.checkStrings(prettyName, text, query)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  private lazy val icu = Tokenizer.useICU

  /** The constant query's matcher; null when the query is null. */
  @transient private lazy val fixed: FtsQuery = {
    val q = query.eval()
    if (q == null) null
    else FtsQuery.of(q.asInstanceOf[UTF8String], stemmed, icu)
  }

  override def eval(input: InternalRow): Any =
    if (query.foldable) {
      if (fixed == null) null
      else {
        val t = text.eval(input)
        if (t == null) null else fixed.matches(t.asInstanceOf[UTF8String])
      }
    } else super.eval(input)

  override protected def nullSafeEval(t: Any, q: Any): Any =
    FtsQuery.of(q.asInstanceOf[UTF8String], stemmed, icu)
      .matches(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    if (!query.foldable)
      defineCodeGen(ctx, ev, (t, q) =>
        s"graft.expressions.FtsQuery.of($q, $stemmed, $icu).matches($t)")
    else if (fixed == null) ExprCode.forNullValue(BooleanType)
    else {
      // only the text is generated: the query lives in the matcher
      val t = text.genCode(ctx)
      val m = ctx.addReferenceObj("ftsQuery", fixed,
        classOf[FtsQuery].getName)
      ev.copy(code = code"""
        |${t.code}
        |boolean ${ev.isNull} = ${t.isNull};
        |boolean ${ev.value} = false;
        |if (!${ev.isNull}) {
        |  ${ev.value} = $m.matches(${t.value});
        |}""".stripMargin)
    }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FtsMatch =
    copy(text = newLeft, query = newRight)

  override def prettyName: String =
    if (stemmed) "fts_match_stemmed" else "fts_match"
}
