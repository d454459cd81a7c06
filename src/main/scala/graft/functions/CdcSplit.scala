package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native content-defined-chunking splitter — the fused form of
  * `d6_cdc_chunks`'s boundary detection. The relational spelling explodes
  * one row PER CHARACTER and runs two ordered windows over them (lag-based
  * rolling hash + cumulative boundary count): correct, but at 100 TB the
  * per-char row amplification (~500× the corpus) dominates the query. This
  * expression walks the string once per document inside whole-stage codegen
  * and returns the chunk substrings directly; downstream hashing and
  * grouping stay relational.
  *
  * Boundary rule (identical to the relational form and the DuckDB oracle):
  * a chunk starts at position 1, and at any i ≥ 4 where the rolling hash
  * c(i−3)·31³ + c(i−2)·31² + c(i−1)·31 + c(i) ≡ 0 (mod 64) over the
  * character codes. Input must be ASCII (the d6 pipeline filters to ASCII
  * first — for ASCII, `charAt` equals the `ascii()` the oracle uses).
  */
case class CdcSplit(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_split requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_split"

  protected override def nullSafeEval(input: Any): Any =
    CdcSplit.compute(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcSplit.compute($c)")

  protected override def withNewChildInternal(newChild: Expression): CdcSplit =
    copy(child = newChild)
}

object CdcSplit {
  /** One pass over the characters; chunk boundary at i (1-based) when
    * i ≥ 4 and (c(i−3)·29791 + c(i−2)·961 + c(i−1)·31 + c(i)) % 64 == 0. */
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    // empty text ⇒ no chunks (the relational char-explode yields no rows)
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var start = 0 // 0-based chunk start
    var i = 3     // 0-based index of the 1-based position 4
    while (i < n) {
      val h = str.charAt(i - 3).toLong * 29791L + str.charAt(i - 2).toLong * 961L +
              str.charAt(i - 1).toLong * 31L + str.charAt(i).toLong
      if (h % 64 == 0) { // new chunk starts AT position i
        out += UTF8String.fromString(str.substring(start, i))
        start = i
      }
      i += 1
    }
    out += UTF8String.fromString(str.substring(start, n))
    new GenericArrayData(out.toArray)
  }
}
