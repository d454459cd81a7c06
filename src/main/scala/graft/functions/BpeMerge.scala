package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for one greedy left-to-right BPE merge pass —
  * the re-tokenization inner loop of the distributed tokenizer trainer
  * (t18) and everything built on it (t20 encode, t31 round-trip audit).
  *
  * The composed form ([[graft.queries.TextAnalysis.mergeGreedy]]) folds with
  * `aggregate(arr, [], (acc, x) -> ...concat(acc, array(x)))`: every element
  * copies the whole accumulator array, making one document's pass O(n²) in
  * token count, with higher-order-function lambda dispatch per element on
  * top. This expression walks the `ArrayData` buffer once — O(n), the
  * merged token allocated once per call — and composes four such passes per
  * training round without any intermediate array churn.
  *
  * Semantics are BIT-IDENTICAL to the fold it replaces (asserted on the
  * whole corpus plus engineered runs in `BpeMergeSpec`): a token is merged
  * with its successor exactly when the previously-EMITTED token equals `a`
  * and the current token equals `b` — so in a run of identical candidates
  * ("a a a" under rule (a,a)) the odd occurrences merge and the carry never
  * cascades (the merged token "a_a" ≠ "a"), the same odd-run-offset
  * positions the oracle's relational form selects. Null elements never
  * merge and pass through in place, matching the composed form's null-safe
  * `===`. Rule tokens are non-null by construction (they come from a count
  * aggregate over non-null tokens); the expression inherits
  * TernaryExpression's null-out on that impossible input where the
  * composed form would append-all — a documented, unreachable divergence.
  *
  * The trainer always merges with this expression; the composed fold is
  * kept only as the reference `BpeMergeSpec` compares against. The two
  * were measured at sf1 in STRESS_sf1.md. */
case class BpeMerge(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(StringType, _)
      if second.dataType == StringType && third.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge requires (array<string>, string, string), got " +
        s"${first.dataType}, ${second.dataType}, ${third.dataType}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "bpe_merge"
  override def nullable: Boolean = true

  protected override def nullSafeEval(arr: Any, a: Any, b: Any): Any =
    BpeMerge.compute(arr.asInstanceOf[ArrayData],
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, a, b) => s"""
      ${ev.value} = graft.functions.BpeMerge.compute($arr, $a, $b);""")

  protected override def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BpeMerge =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeMerge {
  /** One O(n) pass: emit tokens left to right; when the last EMITTED token
    * equals `a` and the current equals `b`, replace it with the merged
    * token instead of emitting. Same positions as the composed fold's
    * try_element_at(acc, -1) check, with none of its per-element array
    * copies. */
  def compute(arr: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var m = 0
    var merged: UTF8String = null // built lazily, at most once per call
    var i = 0
    while (i < n) {
      val x = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (m > 0 && x != null && x.equals(b) && out(m - 1) != null &&
          out(m - 1).asInstanceOf[UTF8String].equals(a)) {
        if (merged == null)
          merged = UTF8String.concat(a, UTF8String.fromString("_"), b)
        out(m - 1) = merged
      } else {
        out(m) = x
        m += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}
