package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for the random-hyperplane sign fingerprint —
  * the dominant LINEAR cost of the LSH-sharded similarity operators
  * (measured at sf1 in STRESS_sf1.md: the 2b×64 projection folds swamp the
  * pair stage at test scale).
  *
  * `hyperplane_fp(v, nbits)` = Σ_j (1 << j) over bits j < nbits where
  * Σ_i v[i] · (((a_j·(i+1) + b_j) mod 1009)/1009 − 0.5) ≥ 0, with
  * (a_j, b_j) the shared deterministic hyperplane params (`Dedup.lshA/B`
  * extended by j — the same `hyper(j)` every oracle unrolls). The composed
  * production form builds, PER BIT, a 64-element zip_with intermediate and
  * walks higher-order-function plumbing per element; this expression
  * computes all `nbits` projections in one fused pass over the raw
  * `ArrayData` buffer inside whole-stage codegen. Accumulation is the same
  * ascending-index double fold, and the plane value is computed by the
  * identical expression tree (integer mod, one double division, one
  * subtraction), so the result is bit-identical to the composed
  * plain-double form (`SimilaritySpec` asserts it over the corpus).
  *
  * Used on the `spark.graft.exactDecimals=false` production path; the
  * default oracle path keeps the exact-decimal fold per bit (cross-engine
  * hash equality needs order-independent sums). Null semantics mirror the
  * composed form: a null element or a non-64-length vector yields NULL
  * (the composed form zips against a fixed 64-element index sequence). */
case class HyperplaneFp(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_fp requires (array<float>, int), got $l, $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_fp"
  override def nullable: Boolean = true

  protected override def nullSafeEval(v: Any, n: Any): Any =
    HyperplaneFp.computeOrNull(v.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n) => s"""
      java.lang.Long ${ev.value}_r = graft.functions.HyperplaneFp.computeOrNull($v, $n);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneFp =
    copy(left = newLeft, right = newRight)
}

object HyperplaneFp {

  private val D = 64

  /** a_j, b_j for bit j — MUST stay in lockstep with `Dedup.lshA/lshB` and
    * the `hyper(j)` helpers the Spark folds and DuckDB oracles unroll. */
  private def planeA(j: Int): Long = graft.queries.Dedup.lshA(j % 8) + 13L * (j / 8)
  private def planeB(j: Int): Long = graft.queries.Dedup.lshB(j % 8) + 7L * (j / 8)

  /** One fused pass: for each bit j, the ascending-index double fold of
    * v[i] · plane_j(i+1) — the identical accumulation order and plane
    * arithmetic as the composed `aggregate(zip_with(...))` double form. */
  def computeOrNull(v: ArrayData, nbits: Int): java.lang.Long = {
    if (v.numElements() != D) return null
    var fp = 0L
    var j = 0
    while (j < nbits) {
      val a = planeA(j)
      val b = planeB(j)
      var acc = 0.0
      var i = 0
      while (i < D) {
        if (v.isNullAt(i)) return null
        val m = (a * (i + 1) + b) % 1009L
        acc += v.getFloat(i).toDouble * (m.toDouble / 1009.0 - 0.5)
        i += 1
      }
      if (acc >= 0) fp |= 1L << j
      j += 1
    }
    fp
  }
}
