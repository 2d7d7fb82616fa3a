package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text-embedding featurizer (P5 stand-in for the
  * reference's Ollama embedding call, `embeddings.py:12-15`): hash
  * each token of the lowercased input into one of `dims` signed
  * buckets, count, L2-normalize.
  *
  * Semantically identical to the HOF formulation (one `aggregate`
  * per output dimension, kept in HashFeaturizeSpec) — same tokenizer
  * (the shared [[Tokenizer]] scan: maximal `[a-z0-9_]` runs of the
  * lowercased text, no token array built), same 60-bit
  * md5-prefix hash, same bucket/sign rule, same left-to-right double
  * accumulation for the norm — but it walks the token stream ONCE
  * into a dims-slot local array instead of unrolling one `aggregate`
  * HOF per output dimension (a ~dims× duplicated expression subtree
  * that cost ~49 s of codegen+eval per bench run at dims=64).
  *
  * The result is an `UnsafeArrayData` over the primitive doubles: an
  * object-array result would box every slot into a `Double` that each
  * consumer (`slice`, `vec_dot`, the parquet writer) unboxes again.
  *
  * Null input → null (the HOF variant returns an array of nulls,
  * which no caller relied on — every call site guards null text).
  * Zero tokens → all-zero vector (the zero-norm passthrough of
  * `embeddings.py:65-71`).
  *
  * A consumer that only takes the vector's inner product with a
  * constant query uses [[HashQueryDot]] instead, which scores the
  * text without building the vector.
  */
case class HashFeaturize(child: Expression, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && dims > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_featurize requires a string input and positive dims, " +
        s"got ${child.dataType.simpleString}, dims=$dims")

  private lazy val icu = Tokenizer.useICU

  override def nullSafeEval(input: Any): Any =
    HashFeaturize.compute(input.asInstanceOf[UTF8String], dims, icu)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    // the heavy loop lives in a static helper; generated code stays a
    // one-line call, so the surrounding stage remains codegen'd
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HashFeaturize.compute($c, $dims, $icu)")

  override protected def withNewChildInternal(
      newChild: Expression): HashFeaturize = copy(child = newChild)

  override def prettyName: String = "vec_featurize"
}

/** The featurize-then-score kernel of KNN serving, fused:
  * `vec_query_dot(text, query)` is bit-identical to
  * `vec_dot(slice(vec_featurize(text, dims), 1, size(query)), query)`
  * without building the vector.
  *
  * The text is tokenized and hashed into a per-thread `dims`-slot
  * buffer and its norm taken over all `dims` slots in index order,
  * exactly as [[HashFeaturize]] does (`HashFeaturize.accumulate` is
  * the one copy of the hash rule). The dot then sums
  * `(raw(j) / norm) * query(j)` over the query's non-zero slots only,
  * in index order. Each skipped term is `x * ±0.0 = ±0.0` (`x` is
  * finite), adding ±0.0 leaves any accumulator but -0.0 unchanged bit
  * for bit, and one that starts at +0.0 never reaches -0.0 in
  * round-to-nearest, so the sum is the full dot's. A hashed query of a
  * few words has a few non-zero slots out of 1024.
  *
  * `query` must be foldable (in serving it is the embedded query
  * string, which Catalyst folds into a literal); its non-zero slots
  * are extracted once per expression instance, not per row. Null text
  * → null. A null query, a query with a null element, or one longer
  * than `dims` → null, as `vec_dot` returns on a length mismatch or a
  * null element.
  */
case class HashQueryDot(text: Expression, query: Expression, dims: Int)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = query
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType != StringType || dims <= 0)
      TypeCheckResult.TypeCheckFailure(
        s"vec_query_dot requires a string input and positive dims, " +
          s"got ${text.dataType.simpleString}, dims=$dims")
    else if (query.dataType.isInstanceOf[ArrayType] &&
        query.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        query.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_query_dot requires a constant array<double> query, " +
        s"got ${query.dataType.simpleString}")

  /** The query's non-zero slots and their values, or None when every
    * row scores null. */
  @transient private lazy val slots: Option[(Array[Int], Array[Double])] =
    HashFeaturize.querySlots(query.eval().asInstanceOf[ArrayData], dims)

  private lazy val icu = Tokenizer.useICU

  override def eval(input: InternalRow): Any = slots match {
    case None => null
    case Some((idx, w)) =>
      val t = text.eval(input)
      if (t == null) null
      else HashFeaturize.queryDot(t.asInstanceOf[UTF8String], dims, idx, w,
        icu)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = slots match {
    case None => ExprCode.forNullValue(DoubleType)
    case Some((idx, w)) =>
      // only the text is generated: the query lives in the two
      // reference arrays, never re-read per row
      val t = text.genCode(ctx)
      val idxRef = ctx.addReferenceObj("queryIdx", idx, "int[]")
      val wRef = ctx.addReferenceObj("queryW", w, "double[]")
      ev.copy(code = code"""
        |${t.code}
        |boolean ${ev.isNull} = ${t.isNull};
        |double ${ev.value} = 0.0;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.expressions.HashFeaturize.queryDot(
        |    ${t.value}, $dims, $idxRef, $wRef, $icu);
        |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HashQueryDot =
    copy(text = newLeft, query = newRight)

  override def prettyName: String = "vec_query_dot"
}

object HashFeaturize {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Per-thread accumulator, grown to the widest `dims` seen. */
  private val scratch = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](0)
  }

  /** The thread's accumulator with its first `dims` slots zeroed. */
  private def buffer(dims: Int): Array[Double] = {
    val b = scratch.get()
    if (b.length >= dims) { java.util.Arrays.fill(b, 0, dims, 0.0); b }
    else { val n = new Array[Double](dims); scratch.set(n); n }
  }

  /** Per-thread copy of one token's lowercased bytes, for the digest. */
  private val tokenBytes = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](64)
  }

  /** The engine's 60-bit hash of an md5 digest `d`: its first 15 hex
    * digits as a non-negative long. The JVM copy of
    * [[graft.functions.TextOps.hash60]] and of the oracle's
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`, shared by the
    * featurizer, the hyperplane and JL planes, and streaming LSH. */
  def hash60(d: Array[Byte]): Long = {
    var h = 0L
    var k = 0
    while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    (h << 4) | ((d(7) & 0xffL) >> 4)
  }

  /** [[hash60]] of the md5 of `s`'s UTF-8 bytes. */
  def hash60(s: String): Long =
    hash60(md5.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** The hash rule, once: hash each [[Tokenizer]] token of the text,
    * add its sign into its bucket of `raw(0 until dims)`. */
  private def accumulate(s: UTF8String, raw: Array[Double], dims: Int,
      icu: Boolean): Unit = {
    val digest = md5.get()
    var tok = tokenBytes.get()
    val scan = new TokenScan(s, icu)
    while (scan.next()) {
      if (tok.length < scan.length) {
        tok = new Array[Byte](scan.length)
        tokenBytes.set(tok)
      }
      scan.copyTo(tok, 0)
      digest.reset()
      digest.update(tok, 0, scan.length)
      val h = hash60(digest.digest())
      val bucket = (h % dims).toInt
      raw(bucket) += (if (((h >> 6) & 1L) == 0L) 1.0 else -1.0)
    }
  }

  /** L2 norm of `raw(0 until dims)`, summed left to right. */
  private def norm(raw: Array[Double], dims: Int): Double = {
    var ss = 0.0
    var k = 0
    while (k < dims) { ss += raw(k) * raw(k); k += 1 }
    math.sqrt(ss)
  }

  /** One pass: tokenize → hash → signed bucket counts → L2 normalize.
    * Called from generated code (static forwarder on the companion
    * class), so it must stay a plain public method. */
  def compute(s: UTF8String, dims: Int, icu: Boolean): ArrayData = {
    val raw = buffer(dims)
    accumulate(s, raw, dims, icu)
    val nrm = norm(raw, dims)
    if (nrm != 0.0) {
      var k = 0
      while (k < dims) { raw(k) /= nrm; k += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(raw, Platform.DOUBLE_ARRAY_OFFSET,
      dims, 8)
  }

  /** [[HashQueryDot]]'s row kernel: the featurized text's dot with the
    * query slots `idx` (ascending) of values `w`. Called from generated
    * code, so it must stay a plain public method. */
  def queryDot(s: UTF8String, dims: Int, idx: Array[Int],
      w: Array[Double], icu: Boolean): Double = {
    val raw = buffer(dims)
    accumulate(s, raw, dims, icu)
    val nrm = norm(raw, dims)
    var acc = 0.0
    var k = 0
    while (k < idx.length) {
      val j = idx(k)
      acc += (if (nrm != 0.0) raw(j) / nrm else raw(j)) * w(k)
      k += 1
    }
    acc
  }

  /** A query vector's non-zero slots in index order, or None when the
    * dot is null for every text: a null query, a null element, or
    * more elements than the featurized vector has. */
  private[expressions] def querySlots(q: ArrayData,
      dims: Int): Option[(Array[Int], Array[Double])] =
    if (q == null || q.numElements() > dims ||
        (0 until q.numElements()).exists(q.isNullAt)) None
    else {
      val nz = (0 until q.numElements()).filter(j => q.getDouble(j) != 0.0)
      Some((nz.toArray, nz.map(q.getDouble).toArray))
    }

  /** Column API: featurize a string column into a `dims`-d unit vector. */
  def featurize(text: Column, dims: Int): Column =
    ColumnBridge.column(HashFeaturize(ColumnBridge.expression(text), dims))

  /** Column API: [[HashQueryDot]] of a string column against a
    * constant query vector. */
  def queryDot(text: Column, query: Column, dims: Int): Column =
    ColumnBridge.column(HashQueryDot(ColumnBridge.expression(text),
      ColumnBridge.expression(query), dims))
}
