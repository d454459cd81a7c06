package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression computing the Morton (Z-order) code of two
  * dimension keys: `interleave_bits(x, y)` interleaves the low 32 bits of
  * each operand (x on even bit positions, y on odd), so sorting by the
  * result clusters rows that are close in BOTH dimensions into the same
  * parquet files/row groups.
  *
  * This is the storage-layout primitive for multi-dimensional pruning at
  * 100 TB: a linear sort serves range predicates on its leading column
  * only, while a Z-order sort bounds the files any 2-D box query touches
  * (each dimension's range constraint zeroes interleaved bit positions,
  * cutting the curve into few contiguous runs). `ZOrderLayoutSpec` measures
  * exactly that: a box filter over a 16-file Z-ordered layout touches ≤4
  * files where the linearly-sorted layout touches ~all 16.
  *
  * The bit spread is the standard 5-step magic-mask doubling over the LOW
  * 32 BITS of each operand (higher bits are masked off — a key wider than
  * 32 bits must be bucketed or split before interleaving, and the q25
  * oracle applies the same initial mask); with both inputs below 2³¹ the
  * result is additionally non-negative, so signed-BIGINT engines (Spark,
  * DuckDB) order it identically. Codegen'd via a static call — one
  * branch-free instruction sequence inside whole-stage codegen.
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"interleave_bits requires two bigint arguments, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "interleave_bits"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.InterleaveBits.morton($a, $b)")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterleaveBits =
    copy(left = newLeft, right = newRight)
}

object InterleaveBits {
  /** Spread the low 32 bits of v to the even bit positions of a long. */
  def spread(v0: Long): Long = {
    var v = v0 & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8))  & 0x00FF00FF00FF00FFL
    v = (v | (v << 4))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  def morton(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}
