package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType}

/** Native Catalyst expression for the int8 (tinyint-array) dot product —
  * the scoring loop of the SQ8 scalar-quantization serving path (s20/s21).
  *
  * Unlike the float dot product ([[DotProduct]]), whose plain-double fold
  * is order-DEPENDENT and therefore only usable as a margin prefilter,
  * integer addition is exact and order-independent: this expression is
  * bit-identical to the DuckDB oracle's grouped `sum(qa.q * qb.q)` under
  * ANY accumulation order, so the SQ8 scorer runs the fused codegen'd loop
  * on the oracle-checked path — no decimal fallback needed. 64 products
  * of values in [-127, 127] bound the sum well inside a long.
  *
  * Null semantics mirror the composed
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0L, +)` form: length mismatch
  * (zip_with null-pads) or a null element yields NULL.
  */
case class DotProductI8(left: Expression, right: Expression) extends BinaryExpression {

  private def isByteArray(t: DataType) = t match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isByteArray(left.dataType) && isByteArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_i8 requires two array<tinyint> arguments, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i8"
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any =
    DotProductI8.computeOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}_r = graft.functions.DotProductI8.computeOrNull($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI8 =
    copy(left = newLeft, right = newRight)
}

object DotProductI8 {
  /** Fused loop over the raw byte buffers. Exact 64-bit integer
    * accumulation — order-independent, hence oracle-safe by construction. */
  def computeOrNull(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }
}
