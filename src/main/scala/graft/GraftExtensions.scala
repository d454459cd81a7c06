package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extensions installer, set by every session [[Session]] builds:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * It installs two things:
  *   - the SQL names of every native function in `graft.functions`
  *     (`nativeFunctions`), each behind the same argument-count check, so
  *     SQL text can call them; DataFrame code uses the typed constructors
  *     and needs none of this;
  *   - the [[graft.plans.FuseDotProduct]] optimizer rule, which rewrites the
  *     composed plain-double dot product to the native `dot_f32` loop.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for (f <- graft.functions.nativeFunctions)
      ext.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        f.sqlBuilder _))
    ext.injectOptimizerRule(_ => graft.plans.FuseDotProduct)
  }
}
