package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** The typed constructors in `graft.functions` and the SQL names
  * `GraftExtensions` installs from the same table. */
class NativeColumnsSpec extends SparkSpec {

  private lazy val input = spark.sql(
    """SELECT CAST(array(1.5, 2, -1) AS ARRAY<FLOAT>) AS f,
      |       CAST(array(2, 0.5, 3) AS ARRAY<FLOAT>) AS g,
      |       CAST(array(1, 0, 2) AS ARRAY<DOUBLE>) AS d,
      |       CAST(array(1, -2, 3) AS ARRAY<TINYINT>) AS i,
      |       CAST(array(4, 5, 6) AS ARRAY<TINYINT>) AS j,
      |       CAST(sequence(-31, 32) AS ARRAY<FLOAT>) AS v,
      |       array('a', 'b', 'a', 'a', 'b') AS t,
      |       'the cat saw the dog and the cat ran off' AS s,
      |       3L AS x, 5L AS y""".stripMargin)

  test("each typed column equals its SQL name through the extensions") {
    val pairs = Seq(
      gf.dot_f32(col("f"), col("g")) -> "dot_f32(f, g)",
      gf.sq_dist(col("f"), col("d")) -> "sq_dist(f, d)",
      gf.hyperplane_fp(col("v"), lit(16)) -> "hyperplane_fp(v, 16)",
      gf.dot_i8(col("i"), col("j")) -> "dot_i8(i, j)",
      gf.bpe_merge(col("t"), lit("a"), lit("b")) -> "bpe_merge(t, 'a', 'b')",
      gf.cdc_split(col("s")) -> "cdc_split(s)",
      gf.interleave_bits(col("x"), col("y")) -> "interleave_bits(x, y)",
      gf.unique_words_ratio(col("s")) -> "unique_words_ratio(s)")
    val typed = input.select(pairs.map(_._1): _*).head()
    assert(typed == input.selectExpr(pairs.map(_._2): _*).head())
    assert(typed.getLong(3) == 4L - 10L + 18L)
    assert(typed.getLong(6) == 39L) // x=3 on bits 0,2; y=5 on bits 1,5

    val sketch = input
      .select(gf.bloom_filter_agg(xxhash64(col("x")), lit(100L), lit(1024L)))
      .head().getAs[Array[Byte]](0)
    assert(sketch.sameElements(input
      .selectExpr("bloom_filter_agg(xxhash64(x), 100L, 1024L)").head().getAs[Array[Byte]](0)))
    val hex = sketch.map(b => f"$b%02X").mkString
    val probes = input.select(gf.might_contain(lit(sketch), xxhash64(col("x"))),
                              gf.might_contain(lit(sketch), xxhash64(col("y")))).head()
    assert(probes == input.selectExpr(s"might_contain(X'$hex', xxhash64(x))",
                                      s"might_contain(X'$hex', xxhash64(y))").head())
    assert(probes.getBoolean(0))
  }

  test("the SQL table names every expression class in graft.functions") {
    val dir = Paths.get(classOf[gf.DotProduct].getProtectionDomain.getCodeSource
      .getLocation.toURI).resolve("graft/functions")
    val ls = Files.list(dir)
    val exprClasses = try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName("graft.functions." + n.stripSuffix(".class")))
      .filter(classOf[Expression].isAssignableFrom).map(_.getName).toSet
    finally ls.close()
    assert(exprClasses.size >= 8, exprClasses)
    val registry = spark.sessionState.functionRegistry
    val installed = gf.nativeFunctions.map { f =>
      registry.lookupFunction(FunctionIdentifier(f.name))
        .getOrElse(fail(s"${f.name} is not installed")).getClassName
    }.toSet
    assert(exprClasses.subsetOf(installed), exprClasses -- installed)
    assert(gf.nativeFunctions.map(_.name).distinct.size == gf.nativeFunctions.size)
  }

  test("a wrong argument count is an analysis error naming the function") {
    for (f <- gf.nativeFunctions; n <- Seq(f.arity - 1, f.arity + 1)) {
      val args = Seq.fill(n)("1").mkString(", ")
      val e = intercept[AnalysisException](spark.sql(s"SELECT ${f.name}($args)").collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
      assert(e.getMessage.contains(s"`${f.name}`"), e.getMessage)
    }
  }

  test("s20_sq8_topk runs in a session whose registry has no dot_i8") {
    val s2 = spark.newSession()
    assert(s2.sessionState.functionRegistry.dropFunction(FunctionIdentifier("dot_i8")))
    intercept[AnalysisException](s2.sql(
      "SELECT dot_i8(CAST(array(1) AS ARRAY<TINYINT>), CAST(array(1) AS ARRAY<TINYINT>))")
      .collect())
    assert(graft.queries.Similarity.s20_sq8_topk(s2, "/root/testdata/sf0.001")
      .collect().nonEmpty)
  }
}
