package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product — the hot
  * inner loop of every similarity operator (s1 norms+scores, s2/d5
  * verification, s3 routing).
  *
  * The composed production path `aggregate(zip_with(a,b,*), 0d, +)` builds an
  * intermediate 64-element array per pair and walks higher-order-function
  * plumbing per element; this expression reads both `ArrayData` buffers
  * directly in one fused loop and participates in whole-stage codegen via
  * `doGenCode` (a static call inside the generated loop — no allocation, no
  * lambda dispatch). Accumulation order is ascending index, the same order
  * as the fold it replaces, so results are bit-identical to the composed
  * plain-double form (`SimilaritySpec` asserts it).
  *
  * Used on the `spark.graft.exactDecimals=false` production path; the
  * default oracle path keeps the exact-decimal fold (cross-engine hash
  * equality needs order-independent sums, which no double loop provides).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def isFloatArray(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f32 requires two array<float> arguments, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"
  // Null semantics mirror the composed `aggregate(zip_with(a,b,*),0d,+)`
  // form exactly: zip_with null-pads length mismatches and a null element
  // poisons the sum — both yield NULL here too, so the FuseDotProduct
  // rewrite is semantics-preserving on ragged/nullable arrays, not just on
  // the clean fixed-width embeddings.
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.computeOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.DotProduct.computeOrNull($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Fused ascending-index loop over the raw array buffers — the same
    * accumulation order as `aggregate(zip_with(...))`, no intermediate
    * array. Returns null exactly when the composed form does: length
    * mismatch (zip_with null-pads) or a null element (poisons the fold). */
  def computeOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}
