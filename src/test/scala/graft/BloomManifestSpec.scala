package graft

import org.apache.spark.sql.functions._

/** Bloom filters as explicit data: build a compact membership manifest over
  * one table's keys and pre-filter another table against it — the
  * shuffle-avoiding semi-join shortcut at 100 TB (ship kilobytes of bits
  * instead of shuffling the fact side; survivors get the exact join).
  * `RuntimeFilterSpec` covers Spark injecting these automatically; this
  * spec exercises the aggregate as a first-class operator with its two
  * contracts: NO false negatives ever, false-positive rate within bound.
  */
class BloomManifestSpec extends SparkSpec {

  test("bloom manifest: zero false negatives, bounded false positives") {
    val dir = "/root/testdata/sf0.001"
    // the builder/probe expressions exist in Catalyst (the runtime-filter
    // rule injects them) but are not in the public registry —
    // GraftExtensions installs their SQL names (c9_bloom_decontam's machinery)
    // manifest over the purchase users (the "interesting keys" side)
    val purchasers = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"))
    purchasers.createOrReplaceTempView("bloom_purchasers")
    Tables.customer(spark, dir).createOrReplaceTempView("bloom_cust")
    // probe through the manifest as a SCALAR SUBQUERY — the form
    // might_contain requires (the bloom is a query-constant, shipped to
    // every task once, never a per-row column)
    val probed = spark.sql(
      """SELECT c_custkey, might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(user_id), CAST(1000 AS BIGINT),
        |                           CAST(8192 AS BIGINT)) FROM bloom_purchasers),
        |  xxhash64(c_custkey)) AS hit
        |FROM bloom_cust""".stripMargin)
    val truth = purchasers.distinct()
      .withColumnRenamed("user_id", "c_custkey")
      .withColumn("member", lit(true))
    val joined = probed.join(truth, Seq("c_custkey"), "left").cache()

    // contract 1: every true member must hit (no false negatives)
    assert(joined.filter(col("member") && !col("hit")).count() == 0,
      "bloom filter produced a false negative")
    // contract 2: non-members rarely hit (8192 bits / ~150 keys ⇒ FPR ≪ 5%)
    val nonMembers = joined.filter(col("member").isNull)
    val fpr = nonMembers.filter(col("hit")).count().toDouble /
      math.max(nonMembers.count(), 1L)
    assert(fpr < 0.05, s"false-positive rate $fpr exceeds bound")
    joined.unpersist()
  }

  test("c9: bloom probe is pushed below the gram join and prunes >90% of it") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val dir = "/root/testdata/sf0.01"
    val c9 = graft.queries.Pipeline.c9_bloom_decontam(spark, dir)
    // pushdown: the Filter holding might_contain must sit BELOW the join —
    // its subtree is join-free, so pruned rows never enter the exchange
    val plan: LogicalPlan = c9.queryExecution.optimizedPlan
    val probeFilters = plan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(probeFilters.nonEmpty, s"no might_contain filter in plan:\n$plan")
    assert(probeFilters.forall(_.collect { case j: Join => j }.isEmpty),
      s"bloom probe did not push below the join:\n$plan")
    // pruning power, measured: the probe admits only grams that might match
    val grams = graft.queries.TextAnalysis
      .docGramsStr(spark, dir, 3).filter(col("doc_id") % 100 =!= 0)
    grams.createOrReplaceTempView("c9spec_tr")
    graft.queries.TextAnalysis.docGramsStr(spark, dir, 3)
      .filter(col("doc_id") % 100 === 0).createOrReplaceTempView("c9spec_ev")
    val total = grams.count()
    val survivors = spark.sql(
      """SELECT count(*) AS n FROM c9spec_tr
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(gram), CAST(1048576 AS BIGINT),
        |                           CAST(10485760 AS BIGINT)) FROM c9spec_ev),
        |  xxhash64(gram))""".stripMargin).collect()(0).getLong(0)
    assert(survivors.toDouble / total < 0.1,
      s"expected >90% of $total train gram rows pruned, got $survivors survivors")
    // identity: the bloom prunes the shuffle, never the result
    val t14 = graft.queries.TextAnalysis.t14_contamination(spark, dir)
    assert(c9.collect().toSeq == t14.collect().toSeq,
      "c9 must equal t14's exact contamination relation")
  }
}
