package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for squared euclidean distance between two
  * numeric vectors — the hot inner loop of k-means assignment
  * (`Similarity.s4_kmeans_train`: corpus × k candidate distances per
  * iteration).
  *
  * Unlike `dot_f32` (whose operands are always raw float embeddings), the
  * k-means loop mixes element types: iteration 1 measures float embeddings
  * against float seed vectors, later iterations against double centroid
  * means. The expression therefore accepts any float/double combination and
  * resolves the accessors per side; the accumulation itself is a single
  * fused ascending-index double loop over the raw `ArrayData` buffers — no
  * intermediate difference array, no higher-order-function dispatch — and
  * participates in whole-stage codegen via `doGenCode`.
  *
  * Used on the `spark.graft.exactDecimals=false` production path; the
  * default oracle path keeps the exact-decimal fold (order-independent
  * sums for cross-engine hash equality). `SimilaritySpec` asserts the two
  * paths train identical centroids.
  */
case class SqDist(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_dist requires two array<float|double> arguments, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"

  private def isFloat(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // Same null discipline as dot_f32: the composed zip_with/aggregate form
  // null-pads ragged pairs and a null element poisons the fold, so both
  // yield NULL here too — never a silently truncated or garbage distance.
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any =
    SqDist.computeOrNull(a.asInstanceOf[ArrayData], isFloat(left.dataType),
                         b.asInstanceOf[ArrayData], isFloat(right.dataType))

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fa = isFloat(left.dataType)
    val fb = isFloat(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r =
        graft.functions.SqDist.computeOrNull($a, $fa, $b, $fb);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")
  }

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

object SqDist {
  /** Fused ascending-index Σ(aᵢ−bᵢ)² over the raw array buffers. The
    * per-side element-type flags are compile-time constants in the
    * generated code, so the JIT hoists the branches out of the loop.
    * Returns null exactly when the composed form does: length mismatch or
    * a null element (the dot_f32 discipline). */
  def computeOrNull(a: ArrayData, aFloat: Boolean,
                    b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }
}
