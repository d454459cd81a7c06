package graft

import org.apache.spark.sql.DataFrame

/** Partition-count invariance — the discipline behind every "no global
  * sort" / "two-phase" decomposition in the repo: the RESULT of a query
  * must not depend on how many shuffle partitions executed it. On a real
  * cluster the partition count changes with executor count, AQE coalescing,
  * and data volume; a decomposition that only matches its oracle at one
  * parallelism is wrong, it just hasn't failed yet.
  *
  * This pins the claim empirically for the queries whose docs assert it:
  * t6 (exact global deciles via distributed two-pass ranking), t13 (exact
  * per-language quotas via two-phase top-N), c5 (bucketed prefix-sum
  * mixture materialization), st3_anomaly_scalable (bucket-granular prefix
  * decomposition of a sequential fold), d3 (LSH banding over the dense-id
  * dictionary built from bucketed ranks). Each runs at 1, 3, and 7 shuffle
  * partitions — divisor-free odd counts that scramble bucket→partition
  * assignments — and must produce byte-identical ordered rows. */
class PartitionInvarianceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val cases: Seq[(String, () => DataFrame)] = Seq(
    "t6_quality_deciles" -> (() => queries.TextAnalysis.t6_quality_deciles(spark, dir)),
    "t13_quota_sample" -> (() => queries.TextAnalysis.t13_quota_sample(spark, dir)),
    "c5_mixture_materialize" -> (() => queries.Pipeline.c5_mixture_materialize(spark, dir)),
    "st3_anomaly_scalable" -> (() => queries.Stateful.st3_anomaly_scalable(spark, dir)),
    "d3_minhash_lsh" -> (() => queries.Dedup.d3_minhash_lsh(spark, dir)),
    // round 6: the incremental near-dup's band joins + deterministic
    // partner choice, and the per-source quality quota's two-phase top-N
    "d13_incremental_neardup" -> (() => queries.Dedup.d13_incremental_neardup(spark, dir)),
    "t25_source_quota" -> (() => queries.TextAnalysis.t25_source_quota(spark, dir)),
    // late round 6: BM25's pruned-postings + per-query top-k WindowGroupLimit
    // chain (two rank-limit stages whose tie-breaks must hold under any
    // partitioning), DSIR's bucket-keyed model joins, and the RRF fusion's
    // full-outer join + integer-sum ranking
    "t27_bm25" -> (() => queries.TextAnalysis.t27_bm25(spark, dir)),
    "t28_dsir_weights" -> (() => queries.TextAnalysis.t28_dsir_weights(spark, dir)),
    "s16_hybrid_rrf" -> (() => queries.Similarity.s16_hybrid_rrf(spark, dir)),
    // round 7: the IVF-served dense leg (staged-index ADC + re-rank window
    // chains feeding fusion) and SemDeDup's two-level ANN assignment (two
    // stacked argmin windows whose tie-breaks must hold under any
    // partitioning)
    "s16_hybrid_rrf_ivf" -> (() => queries.Similarity.s16_hybrid_rrf_ivf(spark, dir)),
    "c2_semdedup_ann" -> (() => queries.Similarity.c2_semdedup_ann(spark, dir)),
    // the IVF-served hard-negative miner: label-filtered ADC shortlist +
    // cosine re-rank — two stacked rank windows with dynamic-predicate
    // filtering between them, tie-breaks must hold under any partitioning
    "s17_hard_negatives_ivf" -> (() => queries.Similarity.s17_hard_negatives_ivf(spark, dir)),
    // the incremental index's semi/anti merge split + per-side prune
    // windows must pick identical survivors under any partitioning
    "t30_bm25_incremental" -> (() => queries.TextAnalysis.t30_bm25_incremental(spark, dir)),
    // the incremental vector index: settled/delta union + per-vector argmin
    // windows + the merged ADC rank chain under any partitioning
    "s18_ivfpq_incremental" -> (() => queries.Similarity.s18_ivfpq_incremental(spark, dir)))

  for ((name, mk) <- cases)
    test(s"$name is invariant under shuffle-partition count (1, 3, 7)") {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      def run(): Seq[Seq[Any]] = {
        queries.QUtil.clearStaged() // staged artifacts must rebuild per count
        mk().collect().toSeq.map(_.toSeq)
      }
      try {
        val results = Seq("1", "3", "7").map { n =>
          spark.conf.set(key, n); run()
        }
        assert(results(0) == results(1) && results(1) == results(2),
          s"$name rows differ across shuffle-partition counts")
      } finally spark.conf.set(key, prev)
    }
}
