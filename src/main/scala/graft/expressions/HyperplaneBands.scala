package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native banded hyperplane-LSH signature: project a vector onto
  * `nPlanes` fixed Rademacher (±1) hyperplanes and pack the sign bits
  * into `nPlanes / bandBits` per-band integer keys — the blocking
  * signature for cosine near-dup detection (q27).
  *
  * The planes are derived from the engine's md5 hash rule
  * (`hash60("hp{j}_{i}") % 2`, the same rule
  * [[graft.functions.TextOps.hash60]] uses), so the DuckDB oracle can
  * materialize the identical planes from SQL alone.
  *
  * Why native: the HOF/literal formulation (one `DotProduct` against
  * a `typedlit` plane per sign bit) pays boxed element access on the
  * literal side times nPlanes — tens of seconds at 64×1024-d over a
  * few thousand rows. This walks the input ONCE per plane over
  * primitive arrays (all plane signs pre-flattened in a shared
  * cache), ~100× faster, and equivalence with the literal-dot
  * formulation is spec-pinned (SimilaritySpec).
  *
  * Null input → null; a null ELEMENT → null result (the checks are
  * emitted only when the array type says elements can be null, so
  * dense-vector inputs stay a tight primitive loop).
  */
case class HyperplaneBands(child: Expression, nPlanes: Int, bandBits: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // can return NULL for a non-null input when elements are nullable —
  // without this, codegen binds ev.isNull to the `false` literal and
  // the isNull branch fails to compile (see DotProduct)
  override def nullable: Boolean = child.nullable || containsNull

  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _)
      if nPlanes > 0 && bandBits > 0 && bandBits <= 30
        && nPlanes % bandBits == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_hyperplane_bands requires an array<double> input and " +
        s"nPlanes divisible by bandBits, got " +
        s"${other.simpleString}, nPlanes=$nPlanes, bandBits=$bandBits")
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneBands.compute(input.asInstanceOf[ArrayData], nPlanes, bandBits,
      containsNull)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val isNullUpdate =
        if (containsNull) s"${ev.isNull} = ${ev.value} == null;" else ""
      s"""
         |${ev.value} = graft.expressions.HyperplaneBands.compute(
         |  $c, $nPlanes, $bandBits, $containsNull);
         |$isNullUpdate
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBands = copy(child = newChild)

  override def prettyName: String = "vec_hyperplane_bands"
}

object HyperplaneBands {

  /** Sign of plane j, dimension i: +1 iff the 60-bit md5 hash of
    * "hp{j}_{i}" is even — byte-for-byte the oracle's
    * `('0x' || substr(md5('hp' || j || '_' || i), 1, 15))::BIGINT % 2`. */
  def planeSign(j: Int, i: Int): Double =
    if (HashFeaturize.hash60(s"hp${j}_$i") % 2 == 0) 1.0 else -1.0

  // (nPlanes, dims) → plane signs flattened row-major; computed once
  // per shape per JVM and shared by all tasks
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def planes(nPlanes: Int, dims: Int): Array[Double] =
    cache.computeIfAbsent((nPlanes, dims), { case (n, d) =>
      val a = new Array[Double](n * d)
      var j = 0
      while (j < n) {
        var i = 0
        while (i < d) { a(j * d + i) = planeSign(j, i); i += 1 }
        j += 1
      }
      a
    })

  /** All band keys in one pass: for each plane, a primitive-array
    * dot; signs packed bandBits per key. Returns null iff an element
    * is null (only possible when checkNulls). Called from generated
    * code — must stay a plain public method. */
  def compute(v: ArrayData, nPlanes: Int, bandBits: Int,
      checkNulls: Boolean): ArrayData = {
    val dims = v.numElements()
    val vd =
      if (!checkNulls) v.toDoubleArray()
      else {
        val a = new Array[Double](dims)
        var i = 0
        while (i < dims) {
          if (v.isNullAt(i)) return null
          a(i) = v.getDouble(i)
          i += 1
        }
        a
      }
    val ps = planes(nPlanes, dims)
    val keys = new Array[Int](nPlanes / bandBits)
    var j = 0
    while (j < nPlanes) {
      var acc = 0.0
      val off = j * dims
      var i = 0
      while (i < dims) { acc += vd(i) * ps(off + i); i += 1 }
      if (acc >= 0) keys(j / bandBits) |= 1 << (j % bandBits)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  /** Column API: banded sign-bit keys of the fixed hyperplane
    * projections, `array<int>` of length nPlanes/bandBits. */
  def bands(v: Column, nPlanes: Int, bandBits: Int): Column =
    ColumnBridge.column(HyperplaneBands(
      ColumnBridge.expression(v), nPlanes, bandBits))
}
