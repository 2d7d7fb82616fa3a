package graft.expressions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Exact-decimal element-wise vector sum, cast to double — the native
  * replacement for the k-means / PQ re-centering's
  * `posexplode(v) → groupBy(key, i) → sum(cast(x as decimal(28,12)))`
  * shape (r15 optimization round; guide §2.3 "aggregate before you
  * shuffle", §1.2 step 1).
  *
  * The explode formulation materialized n·d rows and hash-probed a
  * (key, i) group per ELEMENT before its exchange — measured 1.7 s
  * per 1024-d Lloyd pass at sf0.1, the single largest compute block
  * of every doc-model fit (q79/q100/q119/q229/q235/q239) and of PQ
  * training (q67). This aggregate walks each vector once with
  * zero-copy `ArrayData.getDouble` reads, keeps one fixed-point
  * accumulator per dimension, and ships exactly one serialized buffer
  * per (group × partition) through the shuffle. (A first cut as a
  * typed `Aggregator` via `functions.udaf` was 2.5× SLOWER than the
  * explode — the per-row `Seq[Double]` encoder dominated; hence the
  * TypedImperativeAggregate.)
  *
  * BIT-EXACT parity contract with the explode shape, element by
  * element (VecDecimalSumSpec pins it on the real corpora):
  *   - `cast(x as decimal(28,12))` = java `BigDecimal.valueOf(x)`
  *     (shortest decimal form, like Spark's `Decimal.set(double)`)
  *     `.setScale(12, HALF_UP)`; NaN/±Inf and precision-28 overflow
  *     THROW, exactly as the cast does under Spark 4's default ANSI
  *     mode (failure-mode parity). Exact ±0.0 contributes nothing and
  *     is skipped before the BigDecimal quantization — what makes
  *     sparse featurized vectors cheap.
  *   - the decimal sum is exact integer arithmetic at scale 12 —
  *     order-independent, so partial/merge order can never matter.
  *     Accumulators are longs with lazy BigInteger escalation on
  *     overflow (declared corpora stay far inside long range; the
  *     escalation keeps the 100 TB story exact rather than capped).
  *     DELIBERATE divergence beyond that (ADVICE r15): the explode
  *     shape's `sum` widens to decimal(38,12) and ANSI-throws once a
  *     per-dimension sum exceeds 38 digits, while this accumulator
  *     keeps going exactly — at that extreme the two shapes differ as
  *     throw vs correct value, and the exact value is the contract
  *     this aggregate declares.
  *   - null ELEMENTS are skipped (isNullAt guard), matching the
  *     explode shape where `sum` ignores the null rows posexplode
  *     emits for them. A row whose whole vector is null contributes
  *     nothing here too; note the CALLER-side divergence that a
  *     `count(lit(1))` companion still counts such a row while the
  *     explode shape's (key, i) group never sees it — callers that
  *     admit null vectors must count with `count(col("v"))`. Ragged
  *     widths THROW (declared contract: one fit processes one
  *     fixed-dimension corpus; the explode shape's (key, i) grouping
  *     would silently mix widths instead).
  *   - `cast(sum as double)` = `new BigDecimal(unscaled, 12)
  *     .doubleValue()` — same value, same rounding.
  * The divide-by-count and `round(…, 9)` stay OUTSIDE the aggregate
  * as the very same Catalyst expressions the explode shape used, so
  * no rounding semantics are re-implemented.
  */
case class VecDecimalSumAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecDecimalSumAgg.Buf] {

  import VecDecimalSumAgg._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_decimal_sum requires array<double>, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val d = arr.numElements()
      b.ensure(d)
      var i = 0
      while (i < d) {
        // null-element guard (r16, VERDICT r15 #6): the explode shape's
        // `sum(cast(x as decimal))` SKIPS null elements — posexplode
        // emits them as null rows and sum ignores nulls — so the
        // native walk must skip them too, not read the slot's
        // undefined bytes through getDouble. Declared corpora are
        // non-null; the guard pins parity for any future nullable one.
        if (!arr.isNullAt(i)) {
          val x = arr.getDouble(i)
          if (x != 0.0) b.add(i, x)
        }
        i += 1
      }
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = a.mergeFrom(b)

  override def eval(b: Buf): Any = {
    val d = math.max(b.dims, 0)
    val out = new Array[Double](d)
    var i = 0
    while (i < d) { out(i) = b.valueAt(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(b: Buf): Array[Byte] = b.toBytes
  override def deserialize(bytes: Array[Byte]): Buf = Buf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): VecDecimalSumAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VecDecimalSumAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecDecimalSumAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "vec_decimal_sum"
}

object VecDecimalSumAgg {

  /** Fixed-point partial sums: `sums(i)` holds the scale-12 unscaled
    * value; `big(i)` (lazily allocated) holds long-overflow spill.
    * `dims < 0` marks an untouched buffer. */
  final class Buf {
    var dims: Int = -1
    var sums: Array[Long] = null
    var big: Array[BigInteger] = null

    def ensure(d: Int): Unit = {
      if (dims < 0) { dims = d; sums = new Array[Long](d) }
      else require(dims == d,
        s"vec_decimal_sum: ragged input — $dims vs $d dims")
    }

    /** Replicate ANSI `cast(double → decimal(28,12))` and accumulate. */
    def add(i: Int, x: Double): Unit = {
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
        throw new ArithmeticException(
          s"vec_decimal_sum: $x cannot be cast to Decimal(28,12) (ANSI)")
      val dec = JBigDecimal.valueOf(x).setScale(12, RoundingMode.HALF_UP)
      if (dec.precision > 28)
        throw new ArithmeticException(
          s"vec_decimal_sum: $x cannot be represented as Decimal(28,12) (ANSI)")
      val u = dec.unscaledValue
      if (u.bitLength < 63) addUnscaled(i, u.longValueExact)
      else spill(i, u)
    }

    private def addUnscaled(i: Int, u: Long): Unit = {
      val s = sums(i)
      val r = s + u
      if (((s ^ r) & (u ^ r)) < 0) { // long overflow → BigInteger spill
        spill(i, BigInteger.valueOf(s).add(BigInteger.valueOf(u)))
        sums(i) = 0L
      } else sums(i) = r
    }

    private def spill(i: Int, v: BigInteger): Unit = {
      if (big == null) big = new Array[BigInteger](dims)
      big(i) = if (big(i) == null) v else big(i).add(v)
    }

    def mergeFrom(o: Buf): Buf = {
      if (o.dims < 0) return this
      if (dims < 0) {
        dims = o.dims; sums = o.sums; big = o.big
        return this
      }
      require(dims == o.dims,
        s"vec_decimal_sum: ragged merge — $dims vs ${o.dims} dims")
      var i = 0
      while (i < dims) {
        addUnscaled(i, o.sums(i))
        if (o.big != null && o.big(i) != null) spill(i, o.big(i))
        i += 1
      }
      this
    }

    /** `cast(decimal sum → double)` for one dimension. */
    def valueAt(i: Int): Double = {
      val u =
        if (big != null && big(i) != null)
          big(i).add(BigInteger.valueOf(sums(i)))
        else BigInteger.valueOf(sums(i))
      new JBigDecimal(u, 12).doubleValue()
    }

    def toBytes: Array[Byte] = {
      val d = math.max(dims, 0)
      val bigBytes = new Array[Array[Byte]](d)
      var extra = 0
      var i = 0
      while (i < d) {
        if (big != null && big(i) != null) {
          bigBytes(i) = big(i).toByteArray
          extra += 4 + 4 + bigBytes(i).length
        }
        i += 1
      }
      val bb = ByteBuffer.allocate(4 + 8 * d + 4 + extra)
      bb.putInt(dims)
      i = 0
      while (i < d) { bb.putLong(sums(i)); i += 1 }
      var nBig = 0
      i = 0
      while (i < d) { if (bigBytes(i) != null) nBig += 1; i += 1 }
      bb.putInt(nBig)
      i = 0
      while (i < d) {
        if (bigBytes(i) != null) {
          bb.putInt(i); bb.putInt(bigBytes(i).length); bb.put(bigBytes(i))
        }
        i += 1
      }
      bb.array()
    }
  }

  object Buf {
    def fromBytes(bytes: Array[Byte]): Buf = {
      val bb = ByteBuffer.wrap(bytes)
      val b = new Buf
      b.dims = bb.getInt
      val d = math.max(b.dims, 0)
      if (b.dims >= 0) {
        b.sums = new Array[Long](d)
        var i = 0
        while (i < d) { b.sums(i) = bb.getLong; i += 1 }
        val nBig = bb.getInt
        if (nBig > 0) {
          b.big = new Array[BigInteger](d)
          var j = 0
          while (j < nBig) {
            val idx = bb.getInt
            val len = bb.getInt
            val arr = new Array[Byte](len)
            bb.get(arr)
            b.big(idx) = new BigInteger(arr)
            j += 1
          }
        }
      }
      b
    }
  }

  /** Column API: `Σ cast(v[i] as decimal(28,12))` per dimension, cast
    * to double — drop-in for the explode shape's per-dim sums. */
  def sumCastDouble(v: Column): Column =
    ColumnBridge.column(
      VecDecimalSumAgg(ColumnBridge.expression(v)).toAggregateExpression())
}
