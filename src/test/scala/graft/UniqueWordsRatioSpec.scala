package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.UniqueWordsRatio

/** The native expression must agree exactly with the composed built-in form
  * `size(array_distinct(split))/size(split)` on arbitrary inputs, and must
  * stay inside whole-stage codegen. */
class UniqueWordsRatioSpec extends SparkSpec {
  import spark.implicits._

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val text = Gen.listOf(Gen.oneOf(word, Gen.const(""))).map(_.mkString(" "))

  test("matches the composed built-in form on random strings (property)") {
    val samples = Gen.listOfN(200, text).sample.get
    val df = samples.toDF("s")
      .withColumn("native", expr("unique_words_ratio(s)"))
      .withColumn("composed",
        size(array_distinct(split(col("s"), " ", -1))).cast("double")
          / size(split(col("s"), " ", -1)))
    assert(df.filter(col("native") =!= col("composed")).count() == 0)
  }

  test("hand cases: repeats, empties, single token") {
    val cases = Seq(
      "a a a" -> 1.0 / 3.0,
      "a b c" -> 1.0,
      "a  a" -> 2.0 / 3.0, // "a", "", "a" -> distinct {a, ""} = 2 of 3
      "x" -> 1.0,
      "" -> 1.0) // one empty token
    val got = cases.map(_._1).toDF("s")
      .selectExpr("unique_words_ratio(s)").as[Double].collect()
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(math.abs(g - w) < 1e-15) }
  }

  test("participates in whole-stage codegen (no UDF iterator boundary)") {
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "unique_words_ratio(text) AS r")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"expected codegen span in:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
