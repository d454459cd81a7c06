package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's unique-words ratio
  * (`|distinct tokens| / |tokens|`, whitespace split —
  * AnomalousUserDetector.java:203-207, SURVEY.md §2.7 F3).
  *
  * The composed form `size(array_distinct(split(c,' '))) / size(split(c,' '))`
  * tokenizes TWICE and materializes two arrays per row; this expression makes
  * one pass over the UTF8String and allocates only a hash set — the
  * "custom `Expression` beats UDF" extension tier (SURVEY.md §2.8): it
  * participates in whole-stage codegen via `doGenCode` (a static call inside
  * the generated loop — no iterator boundary, no serialization), unlike a
  * Scala UDF which breaks the codegen stage.
  *
  * Semantics exactly match the composed form, including empty tokens from
  * consecutive spaces (verified property-style in `UniqueWordsRatioSpec`).
  */
case class UniqueWordsRatio(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unique_words_ratio requires a string argument, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "unique_words_ratio"

  protected override def nullSafeEval(input: Any): Any =
    UniqueWordsRatio.compute(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UniqueWordsRatio.compute($c)")

  protected override def withNewChildInternal(newChild: Expression): UniqueWordsRatio =
    copy(child = newChild)
}

object UniqueWordsRatio {
  /** One pass, one token set; token boundaries = single spaces (the same
    * semantics as `split(c, ' ', -1)`: consecutive spaces yield empty
    * tokens, which count toward both totals). */
  def compute(s: UTF8String): Double = {
    val str = s.toString
    val seen = new java.util.HashSet[String]()
    var total = 0
    var start = 0
    var i = 0
    val n = str.length
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        seen.add(str.substring(start, i))
        total += 1
        start = i + 1
      }
      i += 1
    }
    seen.size.toDouble / total
  }
}
