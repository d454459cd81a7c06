package graft

import org.apache.spark.sql.functions._
import graft.queries.TextAnalysis

/** Pins the greedy left-to-right BPE merge fold (t18) against an
  * independent Scala reference — including the only overlap-capable case,
  * w1 == w2 over runs of equal tokens, where greedy semantics (merge
  * offsets 0, 2, 4… of each run) and count-all-adjacencies semantics
  * diverge most easily.
  */
class BpeMergeSpec extends SparkSpec {

  private def refMerge(arr: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for (x <- arr) {
      if (out.nonEmpty && out.last == a && x == b) out(out.size - 1) = a + "_" + x
      else out += x
    }
    out.toSeq
  }

  private def sparkMerge(arrs: Seq[Seq[String]], a: String, b: String): Seq[Seq[String]] = {
    val df = spark.createDataFrame(
      arrs.zipWithIndex.map { case (ar, i) => (i, ar) }).toDF("i", "arr")
    df.select(col("i"), TextAnalysis.mergeGreedy(col("arr"), lit(a), lit(b)).as("m"))
      .orderBy("i").collect().map(_.getSeq[String](1).toSeq).toSeq
  }

  test("greedy merge matches the reference on the overlap-prone run cases") {
    val cases = Seq(
      Seq("a", "a", "a"),           // odd run: [a_a, a]
      Seq("a", "a", "a", "a"),      // even run: [a_a, a_a]
      Seq("b", "a", "a", "b"),      // interior run
      Seq("a"),                     // no pair
      Seq("a", "b", "a", "b"))      // disjoint matches
    val got = sparkMerge(cases, "a", "a")
    assert(got == cases.map(refMerge(_, "a", "a")))
    val got2 = sparkMerge(cases, "a", "b")
    assert(got2 == cases.map(refMerge(_, "a", "b")))
  }

  test("greedy merge matches the reference on 200 random arrays") {
    val rnd = new scala.util.Random(42)
    val alpha = Vector("a", "b", "c")
    val arrs = Seq.fill(200)(
      Seq.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.size))))
    for (a <- alpha; b <- alpha) {
      assert(sparkMerge(arrs, a, b) == arrs.map(refMerge(_, a, b)),
             s"pair ($a, $b)")
    }
  }

  private def nativeMerge(arrs: Seq[Seq[String]], a: String, b: String): Seq[Seq[String]] = {
    val df = spark.createDataFrame(
      arrs.zipWithIndex.map { case (ar, i) => (i, ar) }).toDF("i", "arr")
    df.select(col("i"), call_function("bpe_merge", col("arr"), lit(a), lit(b)).as("m"))
      .orderBy("i").collect().map(_.getSeq[String](1).toSeq).toSeq
  }

  test("native bpe_merge is bit-identical to the composed fold (runs, randoms, corpus)") {
    // the O(n) native pass must reproduce the O(n²) HOF fold exactly —
    // same odd-run-offset merge positions, same no-cascade carry
    val cases = Seq(
      Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq("b", "a", "a", "b"),
      Seq("a"), Seq.empty[String], Seq("a", "b", "a", "b"),
      Seq("a_b", "a", "b"))   // a token that EQUALS the merged spelling
    for (a <- Seq("a", "b"); b <- Seq("a", "b"))
      assert(nativeMerge(cases, a, b) == sparkMerge(cases, a, b), s"($a, $b)")
    val rnd = new scala.util.Random(7)
    val alpha = Vector("a", "b", "c")
    val arrs = Seq.fill(100)(
      Seq.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.size))))
    for (a <- alpha; b <- alpha)
      assert(nativeMerge(arrs, a, b) == sparkMerge(arrs, a, b), s"($a, $b)")
    // whole-corpus cross-check: the full t18 chain under both forms
    val dir = "/root/testdata/sf0.001"
    graft.queries.QUtil.clearStaged()
    val native = TextAnalysis.t18_bpe_merges(spark, dir).collect().map(_.toSeq).toSeq
    graft.queries.QUtil.clearStaged()
    val composed = TextAnalysis.bpeTrain(spark, dir, TextAnalysis.mergeGreedy)._2
      .reduce(_.union(_)).orderBy("step").collect().map(_.toSeq).toSeq
    assert(composed == native, "t18 diverged between native and composed merge")
  }

  test("t18 smoke: one merge rule per round, token totals strictly decrease") {
    val out = TextAnalysis.t18_bpe_merges(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == TextAnalysis.bpeRounds)
    val totals = out.map(_.getAs[Long]("tokens_after"))
    assert(totals.zip(totals.tail).forall { case (x, y) => y < x })
    val cnts = out.map(_.getAs[Long]("cnt"))
    // each round's winning count bounds the next round's (a merge can only
    // remove adjacencies of the chosen pair, not raise another pair's count
    // above it... except pairs CREATED by the merged symbol — so only assert
    // positivity and that the merge actually fired).
    assert(cnts.forall(_ > 0))
    out.foreach { r =>
      assert(r.getAs[String]("w1").nonEmpty && r.getAs[String]("w2").nonEmpty)
    }
  }

  test("bpe_merge wrong arity raises a proper analysis error naming the signature") {
    val few = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT bpe_merge(array('a','b'))").collect()
    }
    assert(few.getMessage.contains("bpe_merge"), few.getMessage)
    val many = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT bpe_merge(array('a','b'), 'a', 'b', 'c')").collect()
    }
    assert(many.getMessage.contains("bpe_merge"), many.getMessage)
  }
}
