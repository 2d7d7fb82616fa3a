package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Native Catalyst sign-bit packer: a numeric array of 64·W elements
  * → W longs, bit for element `64w + i` (0-based) at position
  * `63 - i` of word `w` (MSB-first), set iff the element is ≥ 0.
  *
  * Exists for the same reason as [[DotProduct]]: the HOF formulation
  * ([[graft.ops.BinaryAnn.signPackHof]] — `transform` over words,
  * `aggregate` over a `slice` per word) captures the INPUT VECTOR
  * inside its lambda body, so when projection collapse inlines an
  * expensive producer (the 1280-d featurizer) underneath it, the
  * producer re-evaluates once per word — 16× per row at 1024-d,
  * measured 0.41 s → 4.6 s on the sf0.1 corpus scan. A native unary
  * expression evaluates its child exactly once and packs in one tight
  * primitive loop. Semantics equivalence with the HOF form is
  * property-tested (BinaryAnnSpec).
  *
  * Length not divisible by 64 → NULL (loud in the oracle diff, never
  * a silently half-packed word); null element → NULL.
  */
case class SignPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // NULL on ragged length / null element even for non-null input —
  // see DotProduct's note: without this the isNull branch fails to
  // compile for non-nullable children and codegen silently degrades
  override def nullable: Boolean = true

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def containsNull: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_signpack requires array<float|double> input, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n % 64 != 0) return null
    val isF = elemIsFloat
    val checkNulls = containsNull
    val words = new Array[Long](n / 64)
    var i = 0
    while (i < n) {
      if (checkNulls && x.isNullAt(i)) return null
      val v = if (isF) x.getFloat(i).toDouble else x.getDouble(i)
      // SQL comparison semantics: NaN orders greater than everything
      // (Spark nanSafeCompare, DuckDB NaN-last), so NaN sets the bit —
      // Java's `NaN >= 0 == false` would silently diverge from both
      // the HOF reference and the oracle
      if (v >= 0 || v.isNaN) words(i / 64) |= 1L << (63 - (i % 64))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val words = ctx.freshName("words")
      val nullCheck =
        if (containsNull)
          s"if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n % 64 != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $words = new long[$n / 64];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double ${i}v = (double) $x.$get($i);
         |    // SQL NaN semantics: NaN >= 0 (see eval)
         |    if (${i}v >= 0 || Double.isNaN(${i}v)) {
         |      $words[$i / 64] |= 1L << (63 - ($i % 64));
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = org.apache.spark.sql.catalyst.expressions
         |      .UnsafeArrayData.fromPrimitiveArray($words);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)

  override def prettyName: String = "vec_signpack"
}

object SignPack {
  /** Column API: native sign-bit packing. */
  def pack(v: Column): Column =
    ColumnBridge.column(SignPack(ColumnBridge.expression(v)))
}
