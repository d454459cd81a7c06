package graft

import org.apache.spark.sql.functions._

/** Smoke + plan-shape checks for every declared query at sf0.001:
  * each runs, returns rows, and the scan-level optimizations the 100 TB
  * design relies on actually appear in the physical plan. */
class QueriesSmokeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** What the three full-surface tests read of one declared query: its row
    * count and, for a batch query, the broadcast-contract violations of its
    * analyzed and optimized plans. */
  private case class Walked(rows: Long, unboundedHints: Seq[String],
                            unboundedNonEquiJoins: Seq[String])

  /** Every declared query built once. Building a query can run eager
    * checkpoints (and, for the x-queries, the whole stream), so the three
    * tests share this one walk. The x-queries execute their streams inside
    * their functions, so only batch plans are walked. */
  private lazy val walk: Seq[(String, Walked)] = SparkEntry.queries.toSeq.map {
    case (name, fn) =>
      val df = fn(spark, dir)
      val batch = !name.startsWith("x")
      name -> Walked(df.count(),
        if (batch) graft.plans.BroadcastContract.unboundedHints(df.queryExecution.analyzed)
        else Nil,
        if (batch) graft.plans.BroadcastContract.unboundedNonEquiJoins(
          df.queryExecution.optimizedPlan)
        else Nil)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows at sf0.001") {
    val empties = walk.collect { case (name, w) if w.rows == 0 => name }
    // near-dup pairs may legitimately be empty at tiny scale; the invariant
    // audits are empty exactly when the invariant holds
    val allowedEmpty = Set("d2_ngram_jaccard", "d3_minhash_lsh", "s2_lsh_neardup",
      "d5_embedding_neardup", "j4_ts_violations", "s9_order_audit",
      // pair/dup/funnel results may legitimately be empty at tiny scale
      "d8_dup_clusters", "m4_media_dedup", "q21_funnel", "c10_split_leakage",
      "x11_stream_stream_join",
      // invariant audits: empty exactly when the error contract holds
      "w4_unique_users_approx", "t9_len_quantiles")
    assert((empties.toSet -- allowedEmpty).isEmpty,
      s"unexpected empty results: ${empties.mkString(", ")}")
  }

  test("incremental dedup classifies all three statuses (d12)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A"), (2L, "A"), (3L, "B"), // base (doc_id % 10 <> 0)
      (10L, "A"),              // delta, hash settled in base → dup_of_base(1)
      (20L, "C"), (30L, "C"),  // delta-internal collision → first wins
      (40L, "D")               // genuinely new
    ).toDF("doc_id", "h")
    val got = graft.queries.Dedup.incrClassify(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(got == Set(
      (10L, "dup_of_base", Some(1L)),
      (20L, "unique", None),
      (30L, "dup_in_delta", Some(20L)),
      (40L, "unique", None)))
  }

  test("every query has an oracle (the approx entries audit their own bounds)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: ${missing.mkString(", ")}")
  }

  test("approx distinct error-contract audit is empty (w4)") {
    // w4_unique_users_approx IS the invariant: it emits windows violating
    // |hll − exact| ≤ max(3, 0.1·exact); the contract holds ⇔ empty
    val viol = graft.queries.Windows.w4_unique_users_approx(spark, dir).collect()
    assert(viol.isEmpty, s"HLL error-bound violations: ${viol.mkString("; ")}")
  }

  test("GK rank-band audit is empty and agrees with the collect-based check (t9)") {
    val viol = graft.queries.TextAnalysis.t9_len_quantiles(spark, dir).collect()
    assert(viol.isEmpty, s"GK rank-band violations: ${viol.mkString("; ")}")
    // independent collect-based recomputation of the same band property,
    // cross-checking the relational band construction
    val probs = Seq(0.5, 0.9, 0.99)
    val approx = graft.queries.TextAnalysis.t9_quantiles(spark, dir)
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exact = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("lang"),
              org.apache.spark.sql.functions.col("n_chars"))
      .collect().groupBy(_.getString(0))
      .map { case (lang, rows) => lang -> rows.map(_.getLong(1)).sorted }
    assert(approx.keySet == exact.keySet)
    for ((lang, sorted) <- exact; (p, i) <- probs.zipWithIndex) {
      val n = sorted.length
      val err = math.max(1, n / 1000) // accuracy = 1000 ⇒ rank error ≤ n/1000
      val lo = sorted(math.max(0, (p * n).toInt - err - 1))
      val hi = sorted(math.min(n - 1, (p * n).toInt + err))
      val a = approx(lang)(i)
      assert(a >= lo && a <= hi,
        s"$lang p$p: approx $a outside exact-rank band [$lo, $hi] (n=$n)")
    }
  }

  test("round-robin sink partitioner balances output partitions (S8)") {
    // The reference's Kafka sink cycles partitions per record
    // (session-4-kafka FlinkKafkaProducer custom partitioner). The Spark
    // analog is repartition(n) — RoundRobinPartitioning — ahead of the
    // partitioned sink; no broker in this sandbox, so the write goes to a
    // partitioned file sink and the test asserts the balance property the
    // partitioner exists to provide.
    val out = java.nio.file.Files.createTempDirectory("graft_s8_").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val nIn = ev.rdd.getNumPartitions
    ev.repartition(8).write.mode("overwrite").parquet(out)
    val sizes = spark.read.parquet(out)
      .groupBy(org.apache.spark.sql.functions.spark_partition_id())
      .count().collect().map(_.getLong(1))
    val files = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 8, s"expected 8 round-robin output partitions, got $files")
    // round-robin balance: partition sizes differ by at most the number of
    // upstream partitions (each input partition deals its rows evenly)
    assert(sizes.max - sizes.min <= nIn,
      s"unbalanced round-robin output: ${sizes.mkString(",")}")
  }

  test("keyed frame sink: one partition per key, time order within partitions (S8)") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_s8k_").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    graft.sources.FrameSink.writeKeyed(
      ev, col("user_id"), concat_ws(",", col("event_id"), col("t")), col("t"),
      n = 8, outDir = out)
    // parse every partition file back in file order
    val partDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("part="))
    // an empty hash partition is legal (no key mapped to it) — the written
    // dirs must be exactly the partitions some key hashes to, checked below
    val frames = partDirs.flatMap { d =>
      val p = d.getName.stripPrefix("part=").toLong
      d.listFiles().filter(_.getName.endsWith(".txt")).sortBy(_.getName).flatMap { f =>
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(f.toPath)).asScala
          .map { line =>
            val Array(k, v) = line.split("\\|", 2)
            val Array(eid, t) = v.split(",", 2)
            (p, k.toLong, eid.toLong, t.toLong)
          }
      }
    }
    // Kafka contract 1: every key lives in exactly one partition, the hash one
    val keyParts = frames.groupBy(_._2).map { case (k, fs) => k -> fs.map(_._1).distinct }
    assert(keyParts.values.forall(_.length == 1), "a key spans multiple partitions")
    // ...and that partition is the declared hash partition (recomputed via
    // the same pmod(xxhash64(k), 8) expression)
    val expected = ev.select(col("user_id"),
        graft.sources.FrameSink.partitionOf(col("user_id"), 8).as("p"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keyParts.foreach { case (k, ps) =>
      assert(ps.head == expected(k), s"key $k in part ${ps.head}, expected ${expected(k)}")
    }
    assert(partDirs.map(_.getName.stripPrefix("part=").toLong).toSet ==
      expected.values.toSet, "written partition dirs != hash-mapped partitions")
    // Kafka contract 2: append order within a partition file = time order
    frames.groupBy(f => (f._1, partDirs.length)).foreach { case ((p, _), fs) =>
      val ts = fs.map(_._4).toSeq
      assert(ts == ts.sorted, s"partition $p not in time order")
    }
    // round trip: nothing lost, nothing duplicated
    val in = ev.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(frames.map(f => (f._2, f._3, f._4)).toSet == in)
    assert(frames.length == in.size)
  }

  test("filter + projection push into the parquet scan (q2)") {
    val plan = graft.queries.Relational.q2_filter_project(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("IsNotNull(event_type)") || plan.contains("EqualTo(event_type"),
      s"expected event_type pushdown in:\n$plan")
    // ReadSchema must not include unused columns like props
    assert(!plan.contains("props"), "projection not pruned — props column read")
  }

  test("dimension joins broadcast (q3 star join)") {
    val plan = graft.queries.Relational.q3_region_revenue(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
  }

  test("bin-bucketed interval join plans as an equi-join, not a nested loop (q16)") {
    val plan = graft.queries.Relational.q16_interval_join(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected an equi join on bin in:\n$plan")
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort (q23)") {
    val plan = graft.queries.Relational.q23_global_topk(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k heaps in:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"global range-partitioned sort should not appear:\n$plan")
  }

  test("MERGE apply is one full-outer merge join on the key, never a nested loop (q24)") {
    val plan = graft.queries.Relational.q24_merge_upsert(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"expected a full-outer join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"MERGE must stay a key equi-join:\n$plan")
  }

  test("median/MAD passes reuse one user_id shuffle (st8)") {
    val plan = graft.queries.Stateful.st8_mad_outliers(spark, dir)
      .queryExecution.executedPlan.toString
    // every Exchange must be hash partitioning on user_id — the window
    // ranks, the med/mad joins and the final agg all share that layout
    val exchanges = "Exchange [a-z]+partitioning\\(([^,)]+)[,)]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, s"expected shuffles in:\n$plan")
    assert(exchanges.forall(_.startsWith("user_id")),
      s"non-user_id shuffle found: $exchanges\n$plan")
  }

  test("no broadcast hint on an unbounded relation (100 TB contract)") {
    // Contract + bounding rules live in graft.plans.BroadcastContract (main
    // code, shared with Streams.runToMemory). Here: every BATCH query's
    // analyzed plan, from the shared walk. The x-queries execute streams
    // inside their functions, so their plans aren't walkable without
    // running them — they are covered instead by runToMemory's runtime
    // assertBounded, which every streaming query passes through (the walk
    // runs them all, so a violation fails this suite via that path).
    val bad = walk.flatMap { case (name, w) => w.unboundedHints.map(n => s"$name: $n") }
    assert(bad.isEmpty,
      s"unbounded relation under a broadcast hint:\n${bad.mkString("\n")}")
  }

  test("every non-equi join has a bounded side (100 TB contract)") {
    // The second disease class: a cross/theta join of two corpus-sized
    // relations is quadratic however it's physically planned. Walk every
    // batch query's OPTIMIZED plan (post-pushdown, where join conditions
    // are in final form) and require a bounded side on each non-equi join.
    val bad = walk.flatMap { case (name, w) =>
      w.unboundedNonEquiJoins.map(j => s"$name: $j") }
    assert(bad.isEmpty,
      s"non-equi join with no bounded side:\n${bad.mkString("\n")}")
  }

  test("BroadcastContract flags an unbounded hint and passes bounded ones") {
    // The contract's own behavior: a broadcast of a raw SF-growing relation
    // is flagged; aggregated / limited / fixed-dim subtrees pass.
    val ev = Tables.events(spark, dir)
    val flagged = graft.plans.BroadcastContract.unboundedHints(
      ev.join(broadcast(Tables.customer(spark, dir)), ev("user_id") === col("c_custkey"))
        .queryExecution.analyzed)
    assert(flagged.nonEmpty, "raw customer broadcast must be flagged")
    val okAgg = graft.plans.BroadcastContract.unboundedHints(
      ev.join(broadcast(Tables.customer(spark, dir).groupBy("c_mktsegment").count()),
              Seq.empty, "cross").queryExecution.analyzed)
    assert(okAgg.isEmpty, "aggregated subtree must pass")
    val okDim = graft.plans.BroadcastContract.unboundedHints(
      Tables.nation(spark, dir).join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey")).queryExecution.analyzed)
    assert(okDim.isEmpty, "fixed-cardinality dimension must pass")
    // Range bounds only when its literal cardinality is small: a small
    // canonical bucket space passes, a corpus-sized range is flagged
    val okRange = graft.plans.BroadcastContract.unboundedHints(
      ev.join(broadcast(spark.range(256)), Seq.empty, "cross")
        .queryExecution.analyzed)
    assert(okRange.isEmpty, "small literal range must pass")
    val bigRange = graft.plans.BroadcastContract.unboundedHints(
      ev.join(broadcast(spark.range(1000000000000L)), Seq.empty, "cross")
        .queryExecution.analyzed)
    assert(bigRange.nonEmpty, "corpus-sized range must be flagged")
    // and the runtime choke point rejects an unbounded streaming plan
    val err = intercept[IllegalArgumentException] {
      graft.plans.BroadcastContract.assertBounded(
        ev.join(broadcast(Tables.customer(spark, dir)),
          ev("user_id") === col("c_custkey")), "spec")
    }
    assert(err.getMessage.contains("100 TB contract"))
  }

  test("incremental near-dup verdicts are internally consistent (d13)") {
    // status/dup_of/jaccard invariants: unique ⇔ no partner; a base
    // partner is settled (id % 10 ≠ 0); a delta partner arrived earlier
    // (lower id, itself delta); every non-unique passed the 0.5 gate
    val rows = graft.queries.Dedup.d13_incremental_neardup(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (id, status) = (r.getLong(0), r.getString(1))
      val dupOf = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val j = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(id % 10 == 0, s"$id not a delta doc")
      status match {
        case "unique" => assert(dupOf.isEmpty && j.isEmpty, s"$id: unique with partner")
        case "neardup_of_base" =>
          assert(dupOf.exists(_ % 10 != 0), s"$id: base partner not settled")
          assert(j.exists(_ >= 0.5), s"$id: jaccard below gate")
        case "neardup_in_delta" =>
          assert(dupOf.exists(d => d % 10 == 0 && d < id), s"$id: bad delta partner")
          assert(j.exists(_ >= 0.5), s"$id: jaccard below gate")
        case other => fail(s"$id: unknown status $other")
      }
    }
  }

  test("split assignment is frozen under corpus growth and stratified (c6)") {
    // the eval-set-freeze property c6 claims: a document's split depends
    // only on its id hash, so the sf0.001 corpus (a strict subset) must
    // assign every shared doc identically to the sf0.01 corpus — and hash
    // uniformity must keep each language's train share near 12/16
    val small = graft.queries.Pipeline.c6_train_split(spark, dir)
      .select(col("doc_id"), col("split").as("split_small"))
    val big = graft.queries.Pipeline.c6_train_split(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("lang"), col("split"))
    val moved = big.join(small, Seq("doc_id"))
      .filter(col("split") =!= col("split_small")).count()
    assert(moved == 0, s"$moved docs changed split when the corpus grew")
    val fracs = big.groupBy(col("lang"))
      .agg((sum(when(col("split") === "train", 1).otherwise(0)).cast("double")
            / count(lit(1))).as("tf"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    for ((lang, tf) <- fracs)
      assert(tf > 0.55 && tf < 0.95, s"$lang train fraction $tf far from 12/16")
  }

  test("perplexity buckets are non-degenerate at calibration scale (t26)") {
    // the pinned thresholds are tercile cutoffs calibrated at sf0.01 — at
    // that scale all three buckets must be populated and ordered by nll
    val rows = graft.queries.TextAnalysis
      .t26_perplexity_filter(spark, "/root/testdata/sf0.01")
      .groupBy(col("ppl_bucket")).agg(count(lit(1)).as("n"),
        max(col("avg_nll")).as("mx"), min(col("avg_nll")).as("mn"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == Set("head", "middle", "tail"), s"buckets: ${rows.keySet}")
    assert(rows("head")._2 <= rows("middle")._3 + 1e-9 &&
           rows("middle")._2 <= rows("tail")._3 + 1e-9,
           s"bucket nll ranges overlap: $rows")
    for ((_, (n, _, _)) <- rows) assert(n > 50, s"degenerate bucket in $rows")
  }

  test("chunk manifests tile every document exactly (t23)") {
    // per doc: starts are 0, S, 2S, ...; every chunk ≤ W tokens; the last
    // chunk ends at n_tok — the union of chunks covers the document with
    // no gap past the stride and no token past the end
    val W = 64L; val S = 48L
    val chunks = graft.queries.TextAnalysis.t23_doc_chunking(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.keySet == nTok.keySet.filter(nTok(_) > 0))
    for ((doc, cs) <- chunks) {
      val sorted = cs.sortBy(_._2)
      assert(sorted.zipWithIndex.forall { case ((_, cid, st, _), i) =>
        cid == i && st == i * S }, s"doc $doc: stride broken")
      assert(sorted.forall { case (_, _, st, len) =>
        len >= 1 && len <= W && st + len <= nTok(doc) }, s"doc $doc: bad span")
      val (_, _, lastSt, lastLen) = sorted.last
      assert(lastSt + lastLen == nTok(doc), s"doc $doc: tail not covered")
      assert(lastSt < nTok(doc), s"doc $doc: empty tail chunk")
    }
  }

  test("grouped top-k lowers to WindowGroupLimit, not a full per-key sort (w11)") {
    // Spark 3.5+ infers a bounded per-partition top-k (partial heap before
    // the shuffle, final after) from a rank-limit filter — the built-in
    // operator a hand-rolled heap would duplicate. This pins that the
    // queries' rank-filter FORM actually triggers it: at 100 TB the
    // difference is sorting every group fully vs keeping k rows per task.
    val plan = graft.queries.Windows.w11_window_topk(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
    // same contract for the per-source quality quota (t25): no source's
    // full list is sorted — per-task top-N heaps before and after the shuffle
    val t25 = graft.queries.TextAnalysis.t25_source_quota(spark, dir)
      .queryExecution.executedPlan.toString
    assert(t25.contains("WindowGroupLimit"), s"no WindowGroupLimit in t25:\n$t25")
  }

  test("BM25 serving bounds: pruned postings + top-k both lower to WindowGroupLimit (t27)") {
    val df = graft.queries.TextAnalysis.t27_bm25(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // two rank-limit filters — posting pruning (per term) and the answer
    // top-k (per query) — must BOTH become bounded per-task heaps: at
    // 100 TB the posting list of a common term is O(corpus) and the
    // candidate set of a hot query is O(P·|q|); neither may fully sort
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected two WindowGroupLimit stages in:\n$plan")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
    val perQ = rows.groupBy(_._1)
    assert(perQ.nonEmpty)
    for ((q, rs) <- perQ) {
      assert(rs.length <= 10, s"query $q: more than 10 answers")
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to rs.length).toSeq,
        s"query $q: ranks not dense")
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      }, s"query $q: answers not score-ordered")
      assert(rs.forall(_._2 != q), s"query $q: retrieved itself")
    }
  }

  test("DSIR model is structurally bounded and keep ⇔ logw > 0 (t28)") {
    // the hashed feature space is what makes the model broadcastable —
    // pin that the bucket key really is 2 hex chars (≤ 256 values)
    val buckets = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("g"))
      .select(substring(md5(col("g").cast("binary")), 1, 2).as("b"))
      .distinct().collect().map(_.getString(0))
    assert(buckets.length <= 256 && buckets.forall(_.matches("[0-9a-f]{2}")))
    val rows = graft.queries.TextAnalysis.t28_dsir_weights(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, w, k) => k == (w > 0.0) })
    // trusted-slice docs should skew target-like vs the open rest: the
    // mean weight of src0/src1 docs must exceed the corpus mean
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (ref, rest) = rows.partition(r => Set("src0", "src1")(src(r._1)))
    assert(ref.map(_._2).sum / ref.length > rest.map(_._2).sum / rest.length)
  }

  test("online index ingest emits exactly the batch delta codes (x34 = s18 fold)") {
    // the write path's fidelity contract: per-row expression routing +
    // encoding against the frozen index must reproduce the batch delta
    // fold's argmin windows bit-for-bit (same folds, same tie-breaks)
    val idxS = graft.queries.Similarity.ivfpqSettledIndex(spark, dir)
    val (_, _, codesD) = graft.queries.Similarity.s18DeltaFold(spark, dir, idxS)
    val batch = codesD.select(col("vec_id"), col("cell"), col("j"), col("c"))
      .collect().map(_.toSeq).toSet
    val online = graft.streaming.Streams.x34_stream_index_ingest(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(online.nonEmpty && online == batch)
  }

  test("online BM25 serves exactly the batch answers (x28 = t27)") {
    val batch = graft.queries.TextAnalysis.t27_bm25(spark, dir)
      .collect().map(_.toSeq).toSet
    val online = graft.streaming.Streams.x28_stream_bm25(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(online == batch)
  }

  test("incremental postings maintenance equals the one-shot rebuild (t30 = t27)") {
    // the lossless-merge claim behind the shared oracle: side-pruned +
    // merge-pruned postings and summed partial df/stats over disjoint doc
    // sets must serve bit-identical answers to the full rebuild
    val full = graft.queries.TextAnalysis.t27_bm25(spark, dir)
      .collect().map(_.toSeq).toSeq
    val cold = graft.queries.TextAnalysis.t30_bm25_incremental(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(cold == full, "incremental index diverged from the rebuild")
    // per-increment boundedness as a plan property: with the settled index
    // staged and the delta folded (both checkpointed at build), the SERVED
    // plan's only remaining documents scan is the query log — settled text
    // is never re-read, settled postings never rebuilt
    val warm = graft.queries.TextAnalysis.t30_bm25_incremental(spark, dir)
    val docLeaves = warm.queryExecution.optimizedPlan.collectLeaves().count {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("documents"))
          case _ => false
        }
      case _ => false
    }
    assert(docLeaves == 1, s"warm increment re-reads settled text: $docLeaves documents scans")
    assert(warm.collect().map(_.toSeq).toSeq == full)
  }

  test("x26 routing falls back to the O(1)-codegen array form above the label threshold") {
    // x26 routes through Similarity.nearest over ONE literal centroid
    // array: the routing expression's tree must not grow with the label
    // inventory, and every query vector must land on the driver-computed
    // exact-decimal argmax of the dot product, ties to the lower label
    import org.apache.spark.sql.catalyst.expressions.Expression
    import graft.queries.Similarity
    val q0 = Tables.embeddings(spark, dir).limit(1)
      .select(col("embedding").as("qemb"))
    def treeSize(c: org.apache.spark.sql.Column): Int = {
      def go(e: Expression): Int = 1 + e.children.map(go).sum
      q0.select(c.as("x")).queryExecution.analyzed.expressions.map(go).sum
    }
    // deterministic synthetic centroids; label l and l + 150 share one
    // vector, so at 300 labels every argmax is an exact tie
    val mk = (n: Int) => (0 until n).map(l =>
      (l.toLong, Seq.tabulate(64)(i => math.sin((l % 150) * 64 + i))))
    def route(cents: Seq[(Long, Seq[Double])]) =
      element_at(Similarity.nearest(col("qemb"), Similarity.centroidLit(cents), 1,
        Similarity.negDot), 1).getField("cluster")
    val small = mk(8); val big = mk(300)
    assert(treeSize(route(big)) == treeSize(route(small)),
      "routing tree must not grow with the label inventory")
    def exactDot(q: Seq[Float], c: Seq[Double]): Double =
      q.zip(c).map { case (x, y) =>
        BigDecimal(x.toDouble * y).setScale(20, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    val q = Tables.embeddings(spark, dir).limit(20)
      .select(col("embedding").as("qemb"))
    val rows = q.select(col("qemb"), route(big).as("cell")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qv = r.getSeq[Float](0)
      val want = big.map { case (l, ce) => (-exactDot(qv, ce), l) }.min._2
      assert(want < 150 && r.getLong(1) == want,
        s"routed to ${r.getLong(1)}, driver argmax $want")
    }
  }

  test("cluster card partitions the corpus and bounds its moments (s14)") {
    val rows = graft.queries.Similarity.s14_cluster_card(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                           r.getDouble(3), r.getDouble(5)))
    val total = Tables.embeddings(spark, dir).count()
    assert(rows.map(_._2).sum == total, "cells must partition the corpus")
    for ((c, n, mean, radius, purity) <- rows) {
      assert(n >= 1 && purity > 0.0 && purity <= 1.0, s"cell $c: bad purity")
      assert(radius >= mean - 1e-9, s"cell $c: radius below mean sq-dist")
    }
  }

  test("filtered ANN answers only eligible vectors, k best each (s15)") {
    val rows = graft.queries.Similarity.s15_filtered_ann(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 % 2 == 0), "pre-filter semantics: only even vec_ids")
    for ((q, rs) <- rows.groupBy(_._1)) {
      assert(rs.length <= 3 && rs.map(_._3).sorted.toSeq == (1L to rs.length),
        s"query $q: ranks not dense")
    }
  }

  test("RRF fusion rewards agreement and stays inside list bounds (s16)") {
    val rows = graft.queries.Similarity.s16_hybrid_rrf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val maxSingle = math.floor(1000000.0 / 61 + 0.5).toLong
    for ((q, _, rrf, nLists, _) <- rows) {
      assert(nLists == 1 || nLists == 2, s"query $q: n_lists out of range")
      assert(rrf <= nLists * maxSingle, s"query $q: rrf above per-list bound")
    }
    for ((q, rs) <- rows.groupBy(_._1)) {
      assert(rs.length <= 5 && rs.map(_._5).sorted.toSeq == (1L to rs.length),
        s"query $q: ranks not dense")
      // fused order must follow the exact integer rrf score
      val byRank = rs.sortBy(_._5)
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      }, s"query $q: fusion not score-ordered")
    }
  }

  test("online heavy-hitters monitor confirms exactly the batch set (x29 = t17)") {
    val batch = graft.queries.TextAnalysis.t17_heavy_hitters(spark, dir)
      .collect().map(_.toSeq).toSet
    val online = graft.streaming.Streams.x29_stream_heavy_hitters(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(online == batch)
  }

  test("drift audit: KL is non-negative and shrinks with sample size (t29)") {
    // delta and settled are slices of the SAME synthetic distribution, so
    // the smoothed KL must be ≥ 0 (Gibbs, up to the micro-nat grid); its
    // magnitude at tiny SF is dominated by the well-known small-sample
    // smoothing bias (≈ K/2N nats for K buckets), so the healthy-baseline
    // reading (kl ≤ threshold) is asserted at sf0.1 — 10× the documents,
    // where every language clears it at ~0.02 — not at this 500-doc
    // slice, where a ~50-doc delta legitimately reads ~0.1
    def rows(d: String) = graft.queries.TextAnalysis.t29_drift_audit(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val tiny = rows(dir)
    assert(tiny.nonEmpty)
    for ((lang, dg, kl, drifted) <- tiny) {
      assert(dg > 0, s"$lang: no delta grams")
      assert(kl >= -1e-4, s"$lang: KL below zero beyond grid tolerance ($kl)")
      assert(drifted == (kl > 0.05), s"$lang: flag inconsistent with threshold")
    }
    val big = rows("/root/testdata/sf0.1")
    assert(big.forall(!_._4),
      s"sf0.1 same-distribution slices must read healthy: ${big.mkString(", ")}")
    // the bias shrinks with N: mean KL at 10x the data must be smaller
    val meanTiny = tiny.map(_._3).sum / tiny.length
    val meanBig = big.map(_._3).sum / big.length
    assert(meanBig < meanTiny, s"KL bias must shrink with sample size ($meanTiny -> $meanBig)")
  }

  test("drop ledger partitions the corpus and its kept cell equals c1 (c7)") {
    val led = graft.queries.Pipeline.c7_drop_ledger(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = Tables.documents(spark, dir).count()
    assert(led.map(_._3).sum == total, "every document must land in exactly one cell")
    val kept = led.filter(_._2 == "kept").map(_._3).sum
    assert(kept == graft.queries.Pipeline.c1_clean_corpus(spark, dir).count(),
      "ledger's kept total must equal the cleaned corpus")
    assert(led.map(_._2).distinct.toSet.subsetOf(
      Set("dup_loser", "not_english", "low_quality", "kept")))
  }

  test("split leakage is non-empty under c6 and empty under c11 by construction (c10/c11)") {
    import org.apache.spark.sql.functions._
    // the audited defect is real at sf0.01: random doc-hash splits separate
    // near-duplicates (10 leaking pairs in the gated artifact)
    val sf01 = "/root/testdata/sf0.01"
    val leaks = graft.queries.Pipeline.c10_split_leakage(spark, sf01)
    assert(leaks.count() > 0, "expected the naive split to leak at sf0.01")
    // the remediation: re-run the SAME audit join against c11's
    // cluster-anchored assignment — zero pairs may straddle splits, because
    // every >= 0.5 pair is a d8 edge => same cluster => same anchor
    val pairs = graft.queries.Dedup.d3Pairs(spark, sf01)
      .filter(col("jaccard") >= 0.5)
    val splits = graft.queries.Pipeline.c11_cluster_split(spark, sf01)
      .select(col("doc_id"), col("split"))
    val leakC11 = pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
            Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
            Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
    assert(leakC11.count() == 0,
      "cluster-anchored split must be leak-free by construction")
  }

  test("split-delta ledger: only cluster-anchored docs move, leak flag is exact (c12)") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val led = graft.queries.Pipeline.c12_split_delta(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                           r.getString(3), r.getBoolean(4)))
    // the re-split moves someone at sf0.01 (c10 measured 10 leaking pairs,
    // and healing any cross-split pair forces at least one endpoint over)
    assert(led.nonEmpty, "expected the cluster re-split to move docs at sf0.01")
    // invariant: a mover MUST be cluster-anchored away from itself — a
    // self-anchored doc hashes identically under c6 and c11
    assert(led.forall { case (id, anchor, _, _, _) => anchor != id },
      "a self-anchored doc cannot change split")
    // movers really moved, and the frozen-eval flag is exactly the
    // test->train transition
    assert(led.forall { case (_, _, from, to, _) => from != to })
    assert(led.forall { case (_, _, from, to, leak) =>
      leak == (from == "test" && to == "train") })
    // completeness: the ledger is EXACTLY the c6-vs-c11 disagreement set
    val c6 = graft.queries.Pipeline.c6_train_split(spark, sf01)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val c11 = graft.queries.Pipeline.c11_cluster_split(spark, sf01)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val moved = c6.keySet.filter(id => c6(id) != c11(id))
    assert(led.map(_._1).toSet == moved, "ledger must list every mover once")
  }

  test("release manifest is exactly the decontaminated set with leak-free splits (c13)") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val man = graft.queries.Pipeline.c13_release_manifest(spark, sf01).collect()
    assert(man.nonEmpty)
    // the manifest's doc set IS c3's decontaminated keep-set (c11 assigns
    // every doc, so the join drops nothing)
    val c3Ids = graft.queries.Pipeline.c3_decontaminated(spark, sf01)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(man.map(_.getLong(0)).toSet == c3Ids)
    // gates carried through: quality >= 0.5, english, never an eval doc,
    // split well-formed, token counts positive
    assert(man.forall(_.getDouble(2) >= 0.5))
    assert(man.forall(_.getString(1) == "en"))
    assert(man.forall(_.getLong(0) % 100 != 0))
    assert(man.forall(r => Set("train", "val", "test")(r.getString(5))))
    assert(man.forall(_.getLong(3) > 0))
    // and the split column is c11's (leak-free) assignment, not c6's
    val c11 = graft.queries.Pipeline.c11_cluster_split(spark, sf01)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(man.forall(r => c11(r.getLong(0)) == r.getString(5)))
  }

  test("trained quality gate: exact half-budget threshold, learned signal, funnel slot (c14)") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val gate = graft.queries.Pipeline.c14_quality_classifier(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(2),
                           r.getBoolean(3)))
    val n = gate.length
    val k = (n + 1) / 2
    val kept = gate.filter(_._4)
    // the keep-set is the SMALLEST score-threshold superset of K docs:
    // at least K kept, and dropping the lowest kept score tier goes below K
    assert(kept.length >= k, s"budget: kept ${kept.length} < K=$k")
    val tau = kept.map(_._3).min
    assert(kept.count(_._3 > tau) < k,
      "threshold not minimal: removing the tau tier still covers the budget")
    // a doc's fate depends only on its score: every kept score strictly
    // above every dropped score tier boundary
    assert(gate.filter(!_._4).forall(_._3 < tau),
      "a dropped doc scored at/above the keep threshold")
    // the model LEARNED the trusted signature: trusted-slice recall at half
    // budget far above the 0.5 random baseline (measured 0.90 at sf0.01),
    // and the keep-set concentrates trusted docs above the base rate
    val trusted = gate.count(_._2).toDouble
    val recall = kept.count(_._2) / trusted
    assert(recall > 0.7, s"trusted recall at half budget = $recall")
    assert(kept.count(_._2).toDouble / kept.length > trusted / n,
      "keep-set does not concentrate the trusted slice")
    // funnel slot: the model gate composes with the release manifest (c13)
    // as one more doc_id-keyed filter — the DCLM-style "classifier gate
    // after cleaning": a strict, non-empty subset selection over c13
    val keepIds = kept.map(_._1).toSet
    val man = graft.queries.Pipeline.c13_release_manifest(spark, sf01)
      .collect().map(_.getLong(0))
    val gated = man.filter(keepIds)
    assert(gated.nonEmpty && gated.length < man.length,
      s"model gate over c13: ${gated.length} of ${man.length}")
    // ...and c16 ships exactly that composition as a relation: the gated
    // manifest's doc set IS c13 ∩ c14-keep, with the model score carried
    val c16 = graft.queries.Pipeline.c16_gated_manifest(spark, sf01)
      .collect().map(r => r.getLong(0) -> r.getDouble(6)).toMap
    assert(c16.keySet == gated.toSet,
      "c16 must be exactly the keep-gated manifest")
    val scores = gate.map(g => g._1 -> g._3).toMap
    assert(c16.forall { case (id, sc) => scores(id) == sc },
      "c16 must carry the classifier's score per kept doc")
    // and the measured comparison row agrees with the gate relation
    val cmp = graft.queries.Pipeline.c14_gate_compare(spark, sf01).collect()(0)
    assert(cmp.getLong(1) == kept.length)
    assert(cmp.getDouble(5) > cmp.getDouble(7),
      "clf_trusted_rate must beat the corpus base rate")
  }

  test("manifest increment: fold identity M0 - retires + adds = M1, settled never recompute (c15)") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val led = graft.queries.Pipeline.c15_manifest_increment(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
                           r.getDouble(3), r.getLong(4), r.getLong(5),
                           Option(r.getString(6)), r.getString(7),
                           r.getBoolean(8), r.getLong(9)))
    assert(led.nonEmpty)
    // the action partition IS the settled/delta convention: adds are delta
    // arrivals, retires are settled manifest rows — nothing else can change
    assert(led.forall { case (id, "add", _, _, _, _, _, _, _, _) => id % 10 == 0
                        case (id, "retire", _, _, _, _, _, _, _, _) => id % 10 != 0
                        case _ => false })
    // adds self-anchor with no prior split; retires carry a STRICTLY lower
    // merged anchor (the only way a settled rep is displaced) and a real
    // prior split; the leak flag is exactly c12's test->train transition
    assert(led.filter(_._2 == "add").forall(r =>
      r._6 == r._1 && r._7.isEmpty && !r._9 && r._10 == r._5))
    assert(led.filter(_._2 == "retire").forall(r =>
      r._6 < r._1 && r._7.nonEmpty && r._10 == -r._5))
    assert(led.forall(r => r._9 == (r._7.contains("test") && r._8 == "train")))
    // THE fold identity: applying the ledger to the STAGED settled manifest
    // reproduces the batch-recomputed combined manifest c13 exactly
    val (_, m0df) = graft.queries.Pipeline.c15SettledIndex(spark, sf01)
    val m0 = m0df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
                                  r.getLong(3), r.getString(4)))).toMap
    val retires = led.filter(_._2 == "retire").map(_._1).toSet
    assert(retires.subsetOf(m0.keySet), "a retire must come from the settled manifest")
    val folded = (m0 -- retires) ++
      led.filter(_._2 == "add").map(r => r._1 -> ((r._3, r._4, r._5, r._8)))
    val m1 = graft.queries.Pipeline.c13_release_manifest(spark, sf01)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
                                            r.getLong(3), r.getString(5)))).toMap
    assert(folded == m1, "M0 - retires + adds must equal the batch manifest")
    // per-split token budget: the rollup equals the m1-vs-m0 token diff
    val bud = graft.queries.Pipeline.c15_budget_delta(spark, sf01)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    def tokBySplit(m: Map[Long, (String, Double, Long, String)]) =
      m.values.groupBy(_._4).map { case (sp, vs) => sp -> vs.map(_._3).sum }
    val t1map = tokBySplit(m1); val t0map = tokBySplit(m0)
    for (sp <- t1map.keySet ++ t0map.keySet) {
      val d = t1map.getOrElse(sp, 0L) - t0map.getOrElse(sp, 0L)
      assert(bud.getOrElse(sp, 0L) == d,
        s"split $sp: budget ${bud.get(sp)} must equal manifest token diff $d")
    }
  }

  test("curriculum: stage budgets partition the gated train budget, deterministic order (c17)") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val cur = graft.queries.Pipeline.c17_curriculum(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getDouble(4)))
    assert(cur.nonEmpty)
    // the curriculum covers EXACTLY the gated manifest's train split —
    // every train doc gets a slot, no val/test doc leaks into the order
    val train = graft.queries.Pipeline.c16_gated_manifest(spark, sf01)
      .filter(col("split") === "train")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(6)))
    assert(cur.map(_._1).toSet == train.map(_._1).toSet,
      "curriculum rows must be exactly the c16 train split")
    // THE budget identity (c15's discipline): the per-stage token budgets
    // PARTITION the gated manifest's train-split token budget exactly
    val bud = graft.queries.Pipeline.c17_stage_budget(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bud.map(_._3).sum == train.map(_._2).sum,
      "sum of stage token budgets must equal the c16 train token budget")
    assert(bud.map(_._2).sum == train.length.toLong)
    // per-stage budget rows agree with the per-doc relation
    val byStage = cur.groupBy(_._2)
    assert(bud.toSet == byStage.map { case (st, rs) =>
      (st, rs.length.toLong, rs.map(_._4).sum) }.toSet)
    // ranks are contiguous 1..n per stage — a loader streams each stage
    // as a dense sequence, no gaps to special-case
    for ((st, rs) <- byStage)
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length.toLong),
        s"stage $st ranks not contiguous")
    // stages are balanced deciles (sizes differ by at most 1) and ASCEND
    // with score: consuming stages in order anneals onto the top decile
    assert(byStage.values.map(_.length).max -
           byStage.values.map(_.length).min <= 1)
    val stages = byStage.keys.toSeq.sorted
    assert(stages == (0L until stages.length.toLong),
      "stage ids must be dense from 0")
    for (Seq(a, b) <- stages.sliding(2))
      assert(byStage(a).map(_._5).max <= byStage(b).map(_._5).min,
        s"stage $a must not out-score stage $b")
    // within a stage the order is the deterministic LCG shuffle — rank
    // ascends with (h, doc_id), h = c5's portable hash, NOT with doc_id
    // (crawl order) and NOT with score
    def h(id: Long) = ((id * 1103515245L + 12345L) % 2147483648L
                        + 2147483648L) % 2147483648L
    for ((st, rs) <- byStage)
      assert(rs.sortBy(_._3).map(r => (h(r._1), r._1)).toSeq ==
             rs.map(r => (h(r._1), r._1)).sortBy(identity).toSeq,
        s"stage $st not in LCG-shuffle order")
  }

  test("shard manifest: per-stage fills sum to the stage budget, dense shards (c18)") {
    val sf01 = "/root/testdata/sf0.01"
    val man = graft.queries.Pipeline.c18_shard_manifest(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4)))
    assert(man.nonEmpty)
    val bud = graft.queries.Pipeline.c17_stage_budget(spark, sf01)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val byStage = man.groupBy(_._1)
    // every curriculum stage gets a shard sequence, no phantom stages
    assert(byStage.keySet == bud.keySet)
    for ((st, shards) <- byStage) {
      // shard ids are dense from 0 — a loader streams them as files
      assert(shards.map(_._2).sorted.toSeq == (0L until shards.length.toLong),
        s"stage $st shards not dense")
      // THE fill identity: shard fills partition the stage token budget
      // (c17's budget rows), so nothing is dropped or double-packed
      assert(shards.map(_._3).sum == bud(st)._2,
        s"stage $st shard fills do not sum to the stage budget")
      // concat packing: every non-terminal shard is exactly full
      val last = shards.map(_._2).max
      assert(shards.filter(_._2 < last).forall(_._3 == 128L),
        s"stage $st has a short non-terminal shard")
      // each doc starts in exactly one shard
      assert(shards.map(_._5).sum == bud(st)._1,
        s"stage $st doc starts do not sum to the stage doc count")
    }
  }

  test("shard packing isolates stages: perturbing one stage never touches another's rows (c18)") {
    // The re-weight contract c18's scaladoc states (and c19's repack
    // relies on), pinned on the real curriculum: stage boundaries are
    // shard boundaries, so re-packing with one stage's docs DROPPED (a
    // stage de-weighted) or DUPLICATED (up-weighted) leaves every OTHER
    // stage's (stage, shard) rows byte-identical — a stage can be
    // re-weighted without re-packing its neighbors.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val cur = graft.queries.Pipeline.c17_curriculum(spark, sf)
      .select(col("doc_id"), col("stage"), col("rank_in_stage"), col("n_tokens"))
      .localCheckpoint()
    val base = graft.queries.Pipeline.packShards(cur)
      .collect().map(_.toSeq).groupBy(_(0).asInstanceOf[Long])
    val stages = base.keySet
    assert(stages.size >= 2, "isolation needs at least two stages to pin")
    val victim = stages.min
    // de-weight: drop the victim stage's docs entirely
    val dropped = graft.queries.Pipeline.packShards(
        cur.filter(col("stage") =!= victim))
      .collect().map(_.toSeq).groupBy(_(0).asInstanceOf[Long])
    assert(!dropped.contains(victim))
    for (st <- stages - victim)
      assert(dropped(st).toSeq == base(st).toSeq,
        s"dropping stage $victim changed stage $st's shard rows")
    // up-weight: replay the victim stage's sequence twice (2-epoch
    // up-weighting — appended AFTER the originals in rank order, the way
    // a loader replays a stage)
    val nVictim = cur.filter(col("stage") === victim).count()
    val replay = cur.filter(col("stage") === victim)
      .withColumn("rank_in_stage", col("rank_in_stage") + lit(nVictim))
      .withColumn("doc_id", -col("doc_id")) // distinct ids, same tokens
    val doubled = graft.queries.Pipeline.packShards(cur.unionByName(replay))
      .collect().map(_.toSeq).groupBy(_(0).asInstanceOf[Long])
    for (st <- stages - victim)
      assert(doubled(st).toSeq == base(st).toSeq,
        s"duplicating stage $victim changed stage $st's shard rows")
    // and the victim's own token mass doubled — the perturbation was real
    val vt = (g: Map[Long, Array[Seq[Any]]]) =>
      g(victim).map(_(2).asInstanceOf[Long]).sum
    assert(vt(doubled) == 2 * vt(base))
  }

  test("decile boundaries match brute-force ranks on synthetic grids incl. degenerate n (c19)") {
    // Pins decileBounds' r_k derivation and the boundary-predicate stage
    // formula exhaustively on small synthetic score grids WITH ties —
    // including the sub-10-doc regimes where boundaries are absent (the
    // r13 ADVICE degenerate-regime class, tested by design here).
    import spark.implicits._
    for (n <- Seq(1, 2, 5, 23, 101)) {
      val docs = (1 to n).map(i => (i.toLong, ((i * 7) % 13).toLong))
      val hist = docs.groupBy(_._2).map { case (si, rs) => (si, rs.size.toLong) }
        .toSeq.toDF("si", "c")
      val got = graft.queries.Pipeline.decileBounds(hist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val sorted = docs.sortBy(d => (d._2, d._1))
      val expected = (1 to 9).flatMap { k =>
        val rk = (k * n + 9) / 10 + 1
        if (rk > n) None // absent boundary: the whole universe is below it
        else {
          val (_, si) = sorted(rk - 1)
          Some((k.toLong, si, sorted.take(rk).count(_._2 == si).toLong))
        }
      }
      assert(got == expected, s"n=$n boundaries")
      // the per-doc predicate c19 uses: stage = #{k : (si, gridRank) >=
      // (si_k, c_k)} must equal the plain rank formula ((rnk-1)*10) div n
      for (((id, si), idx) <- sorted.zipWithIndex) {
        val rnk = idx + 1
        val gridRank = sorted.take(rnk).count(_._2 == si)
        val fromBounds = got.count { case (_, bsi, ck) =>
          si > bsi || (si == bsi && gridRank >= ck) }
        assert(fromBounds == ((rnk - 1) * 10) / n,
          s"n=$n doc $id rank $rnk: boundary-predicate stage $fromBounds")
      }
    }
  }

  test("curriculum increment: ledger-applied = full recompute for both c17 and c18 (c19)") {
    // The terminal-stage increment contract (c15's fold-identity
    // discipline): applying c19's delta ledger to the STAGED settled
    // artifacts reproduces the full-recompute curriculum and shard
    // manifest exactly — no drift channel between the incremental fold
    // and the batch rebuild.
    val dir = "/root/testdata/sf0.001"
    val P = graft.queries.Pipeline
    val (cur0, _, _, shards0) = P.c19Settled(spark, dir)
    val led = P.c19_curriculum_delta(spark, dir).collect()
    assert(led.nonEmpty)
    // ledger rows are well-formed and every move is a genuine change
    for (r <- led) r.getString(1) match {
      case "enter" => assert(r.isNullAt(2) && !r.isNullAt(3))
      case "leave" => assert(!r.isNullAt(2) && r.isNullAt(3))
      case "move"  => assert(!r.isNullAt(2) && !r.isNullAt(3) &&
                             r.getLong(2) != r.getLong(3),
        s"move row ${r.getLong(0)} does not change stage")
      case a => fail(s"unknown action $a")
    }
    // LEDGER-APPLIED = FULL RECOMPUTE (c17): patch the settled per-doc
    // stage map by the ledger, compare with the fresh curriculum
    val prev = scala.collection.mutable.Map(
      cur0.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq: _*)
    for (r <- led) r.getString(1) match {
      case "enter" => assert(!prev.contains(r.getLong(0))); prev(r.getLong(0)) = r.getLong(3)
      case "leave" => assert(prev.remove(r.getLong(0)).isDefined)
      case "move"  => assert(prev(r.getLong(0)) == r.getLong(2)); prev(r.getLong(0)) = r.getLong(3)
    }
    val fresh = P.c17_curriculum(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prev.toMap == fresh,
      "ledger-applied settled curriculum diverges from the full recompute")
    // LEDGER-APPLIED = FULL RECOMPUTE (c18): patch the settled shard map
    // by the shard delta, compare with the fresh manifest
    type K = (Long, Long)
    val sm = scala.collection.mutable.Map(
      shards0.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toSeq: _*)
    val sd = P.c19_shard_delta(spark, dir).collect()
    assert(sd.nonEmpty)
    for (r <- sd) {
      val k: K = (r.getLong(0), r.getLong(1))
      r.getString(2) match {
        case "new" =>
          assert(!sm.contains(k))
          sm(k) = (r.getLong(6), r.getLong(7), r.getLong(8))
        case "dropped" =>
          assert(sm.remove(k).contains((r.getLong(3), r.getLong(4), r.getLong(5))))
        case "changed" =>
          assert(sm(k) == ((r.getLong(3), r.getLong(4), r.getLong(5))))
          val nv = (r.getLong(6), r.getLong(7), r.getLong(8))
          assert(sm(k) != nv, s"changed row $k is not a change")
          sm(k) = nv
        case a => fail(s"unknown shard action $a")
      }
    }
    val freshSh = P.c18_shard_manifest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(sm.toMap == freshSh,
      "ledger-applied settled shard manifest diverges from the full recompute")
    // BUDGET IDENTITY (the c15/c17 discipline): per stage,
    // stage_tokens@M0 + tok_delta = stage_tokens@M1
    val tok0 = cur0.select("stage", "n_tokens").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sum).toMap
    val tok1 = P.c17_stage_budget(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bd = P.c19_budget_delta(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    for (st <- tok0.keySet ++ tok1.keySet)
      assert(tok0.getOrElse(st, 0L) + bd.getOrElse(st, 0L) ==
             tok1.getOrElse(st, 0L),
        s"stage $st budget identity violated")
  }

  test("drift monitor reads identically on FMGWS and transformWithState (x31 = x32)") {
    val fmgws = graft.streaming.Streams.x31_stream_drift(spark, dir)
      .collect().map(_.toSeq).toSet
    val tws = graft.streaming.Streams.x32_tws_drift(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(tws == fmgws)
  }

  test("hard negatives are cross-label and beat every same-label candidate check (s17)") {
    val rows = graft.queries.Similarity.s17_hard_negatives(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
                           r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, ql, _, nl, _, _) => ql != nl },
      "a hard negative must carry a different label than its anchor")
    for ((q, rs) <- rows.groupBy(_._1)) {
      val byRank = rs.sortBy(_._6)
      assert(byRank.map(_._6).toSeq == (1L to rs.length).toSeq, s"anchor $q: ranks not dense")
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._5 > b._5 || (a._5 == b._5 && a._3 < b._3)
        case _ => true
      }, s"anchor $q: not similarity-ordered")
    }
  }

  test("IVF-served hard negatives are cross-label and never beat the exact miner (s17_ivf)") {
    // the serving contract: the index variant returns only eligible
    // (cross-label) negatives, and — because its shortlist is a subset of
    // the candidates the exact scan ranks — its best cosine per anchor can
    // never exceed the exact miner's best for that anchor
    val ivf = graft.queries.Similarity.s17_hard_negatives_ivf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
                           r.getDouble(4), r.getLong(5)))
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (_, ql, _, nl, _, _) => ql != nl },
      "an IVF-served hard negative must carry a different label than its anchor")
    val exactBest = graft.queries.Similarity.s17_hard_negatives(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(4), r.getLong(5)))
      .filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for ((q, rs) <- ivf.groupBy(_._1)) {
      val byRank = rs.sortBy(_._6)
      assert(byRank.map(_._6).toSeq == (1L to rs.length).toSeq, s"anchor $q: ranks not dense")
      assert(byRank.head._5 <= exactBest(q),
        s"anchor $q: served top-1 cosine beats the exhaustive scan")
    }
  }

  test("hashed gram keys change the shuffle width, not the answer (t14 gramHashKey)") {
    // the petabyte-scale key form: xxhash64(gram) as the join/dedup key.
    // Output must be row-identical to the string-keyed default — the only
    // admissible difference is a 2^-64-probability hash collision, absent
    // on any real corpus slice
    val base = graft.queries.TextAnalysis.t14_contamination(spark, dir)
      .collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.gramHashKey", "true")
    try {
      val hashed = graft.queries.TextAnalysis.t14_contamination(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(hashed == base, "hashed-key t14 diverged from the string-keyed form")
    } finally spark.conf.unset("spark.graft.gramHashKey")
  }

  test("BPE round-trip audit is clean on the corpus and DETECTS separator collisions (t31)") {
    // non-vacuity first: the decode expression must actually flag a source
    // token containing the merge separator (the failure mode the audit
    // exists for), then the corpus report must be all-zero violations
    import spark.implicits._
    val collided = Seq(("ok doc", Seq("ok", "doc")), ("has_underscore", Seq("has_underscore")))
      .toDF("text", "arr")
      .withColumn("decoded",
        concat_ws(" ", expr("transform(arr, t -> replace(t, '_', ' '))")))
      .withColumn("bad", col("decoded") =!= col("text"))
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(!collided("ok doc") && collided("has_underscore"),
      "decode expression failed to flag a separator collision")
    val rows = graft.queries.TextAnalysis.t31_bpe_roundtrip(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.map(_._2).sum > 0)
    assert(rows.forall(_._3 == 0L),
      s"round-trip violations on the synthetic corpus: $rows")
  }

  test("retrieval eval reports one bounded row per system over a shared universe (s19)") {
    val rows = graft.queries.Similarity.s19_retrieval_eval(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                           r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == Seq("bm25", "dense_ivf_p1", "dense_ivf_p2",
      "dense_ivf_p2_d10", "dense_ivf_p4", "hybrid_rrf", "hybrid_rrf_ivf_p1",
      "hybrid_rrf_ivf_p2", "hybrid_rrf_ivf_p2_d10", "hybrid_rrf_ivf_p4"))
    val universes = rows.map(_._2).distinct
    assert(universes.length == 1 && universes.head > 0,
      "all systems must be judged over the same dense-query universe")
    for ((sys, n, answered, hits, recall, mrr) <- rows) {
      assert(answered <= n, s"$sys: answered more queries than exist")
      assert(hits <= 5 * n, s"$sys: more truth hits than shortlist slots")
      assert(recall >= 0.0 && recall <= 1.0, s"$sys: recall out of range")
      assert(mrr >= 0.0 && mrr <= 1.0, s"$sys: MRR out of range")
    }
  }

  test("media drop ledger partitions the asset table (m8)") {
    val led = graft.queries.Multimodal.m8_media_drop_ledger(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = Tables.documents(spark, dir).count()
    assert(led.map(_._3).sum == total, "every asset lands in exactly one cell")
    assert(led.map(_._1).distinct.toSet.subsetOf(Set("image", "audio", "video")))
    assert(led.map(_._2).distinct.toSet.subsetOf(
      Set("exact_dup_loser", "near_dup_loser", "kept")))
    assert(led.forall(_._4 >= 0))
  }

  test("whole-stage codegen covers the aggregation hot path (q1)") {
    val df = graft.queries.Relational.q1_pricing_summary(spark, dir)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // codegen spans print as "*(n) Operator"
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(plan).isDefined,
      s"expected codegen'd aggregation in:\n$plan")
    // partial aggregation (map-side combine) must precede the exchange
    assert(plan.contains("partial_sum"), s"expected partial aggregation in:\n$plan")
  }

  test("m9 increment classifies all five statuses on engineered payloads") {
    // Payload pairs engineered offline against the phash64 arithmetic:
    // B/Bp and C/Cp differ in one byte (md5 differs) yet hash to the SAME
    // 64-bit phash (the flipped byte never changes a stride-group's sign),
    // so they are near-dups at Hamming 0; all cross-pair distances are
    // >> 3 (verified offline). A/Ac are byte-identical.
    import graft.queries.Multimodal
    import spark.implicits._
    val A  = "canonical asset alpha: wholly distinct content stream AAAA 1111" * 2
    val B  = "settled media asset payload number two, stable bytes 0123456789" * 2
    val Bp = "tettled media asset payload number two, stable bytes 0123456789" +
             "settled media asset payload number two, stable bytes 0123456789"
    val C  = "delta-only payload with no settled counterpart, run 9876543210" * 2
    val Cp = "eelta-only payload with no settled counterpart, run 9876543210" +
             "delta-only payload with no settled counterpart, run 9876543210"
    val D  = "novel duplicate pair payload, byte-identical twice in the delta" * 2
    val E  = "wholly unique delta asset with nothing nearby in any tier zzz" * 2
    def asset(id: Long, text: String) =
      Multimodal.Asset(id, "image", text.getBytes("UTF-8"), text.length.toLong, "src0")
    val all = Seq(
      asset(1L, A), asset(2L, B),                    // settled
      asset(10L, A),  // byte-identical to settled 1     -> dup_of_base
      asset(20L, Bp), // phash-equal to settled 2        -> neardup_of_base
      asset(30L, C),  // novel                           -> unique
      asset(40L, Cp), // phash-equal to EARLIER delta 30 -> neardup_in_delta
      asset(50L, D),  // novel                           -> unique
      asset(60L, D),  // byte-identical to delta 50      -> dup_in_delta
      asset(70L, E))  // nothing nearby                  -> unique
      .toDS().toDF()
    val settled = all.filter(col("doc_id") % 10 =!= 0)
    val digS = settled.select(col("doc_id"), md5(col("payload")).as("h"))
    val out = Multimodal.m9Classify(spark, digS,
        Multimodal.bandsOf(Multimodal.phash64Of(spark, settled)),
        all.filter(col("doc_id") % 10 === 0))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out(10L) == (("dup_of_base", Some(1L), None)),
      s"exact beats perceptual and hamming stays NULL: ${out(10L)}")
    assert(out(20L) == (("neardup_of_base", Some(2L), Some(0L))), out(20L).toString)
    assert(out(30L) == (("unique", None, None)), out(30L).toString)
    assert(out(40L) == (("neardup_in_delta", Some(30L), Some(0L))), out(40L).toString)
    assert(out(50L) == (("unique", None, None)), out(50L).toString)
    assert(out(60L) == (("dup_in_delta", Some(50L), None)), out(60L).toString)
    assert(out(70L) == (("unique", None, None)), out(70L).toString)
  }

  test("media payload bytes never ride a shuffle in the m9 increment") {
    // m6's only-the-8-byte-hash-shuffles contract, asserted on m9's
    // executed plan: digests (hex strings) and phashes shuffle; the
    // binary payload column must be projected away before every exchange.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val df = graft.queries.Multimodal.m9_incremental_media(spark, dir)
    df.collect() // finalize the adaptive plan
    val exchanges = flatten(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "expected at least one exchange in m9")
    for (e <- exchanges) {
      val bin = e.output.filter(_.dataType == BinaryType)
      assert(bin.isEmpty,
        s"binary column ${bin.map(_.name).mkString(",")} rides a shuffle")
    }
  }

  test("bench artifact routing: subset experiments never clobber bench/") {
    // full runs and KEEP_SHARED serving runs refresh the committed map;
    // a cold SPARK_GRAFT_ONLY subset run writes only target/
    assert(Bench.artifactDirs(subsetRun = false, keepShared = false) ===
      Seq("target", "bench"))
    assert(Bench.artifactDirs(subsetRun = true, keepShared = true) ===
      Seq("target", "bench"))
    assert(Bench.artifactDirs(subsetRun = false, keepShared = true) ===
      Seq("target", "bench"))
    assert(Bench.artifactDirs(subsetRun = true, keepShared = false) ===
      Seq("target"))
  }

  test("release composite: cross-family consistency of one increment (c20)") {
    // The identities that make ONE release event out of seven family
    // folds (r14 verdict lead item). All at sf0.01 — the gate's scale.
    val sf01 = "/root/testdata/sf0.01"
    val P = graft.queries.Pipeline
    val c20 = P.c20_release_increment(spark, sf01).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    assert(c20.size === 28, "8 families x fixed metric inventories")
    // (1) WIRING: composite rows equal the per-family rollups computed
    // from the standalone family queries
    val d13 = graft.queries.Dedup.d13_incremental_neardup(spark, sf01).collect()
    assert(c20(("text_near", "n_neardup_of_base")) ===
      d13.count(_.getString(1) == "neardup_of_base").toLong)
    val c15 = P.c15_manifest_increment(spark, sf01).collect()
    assert(c20(("manifest", "n_add")) ===
      c15.count(_.getString(1) == "add").toLong)
    val c19 = P.c19_curriculum_delta(spark, sf01).collect()
    assert(c20(("curriculum", "n_enter")) ===
      c19.count(_.getString(1) == "enter").toLong)
    assert(c20(("shards", "n_changed")) ===
      P.c19_shard_delta(spark, sf01).collect()
        .count(_.getString(2) == "changed").toLong)
    val vec = graft.queries.Similarity.s18DeltaSummary(spark, sf01).collect()(0)
    assert(c20(("vectors", "n_code_rows")) === vec.getLong(1))
    // postings n_tokens cross-checked through a DIFFERENT computation
    // path: sum(tf) over the delta postings vs sum of per-doc dl
    val docTok = Tables.documents(spark, sf01)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c20(("postings", "n_tokens")) === docTok.values.sum)
    // (2) DEDUP → MANIFEST: a d13 near-dup whose chosen partner PRECEDES
    // it can never re-enter the manifest as a c15 add — its component's
    // min-anchor is at most that partner, so it is not its own
    // representative. (Same banded >= 0.5 pair space on both sides; a
    // partner with a HIGHER id makes no such promise, which is why the
    // pin is on dup_of < doc_id.)
    val adds = c15.filter(_.getString(1) == "add").map(_.getLong(0)).toSet
    val offenders = d13
      .filter(r => !r.isNullAt(2) && r.getLong(2) < r.getLong(0))
      .map(_.getLong(0)).filter(adds.contains)
    assert(offenders.isEmpty,
      s"preceded near-dups re-entered the manifest: ${offenders.mkString(",")}")
    // (3) TOKEN-CHARGE: every c19 enter carries the identical n_tokens
    // its c15 add carries, which is the document's own size(split(text))
    // — the one token count c18/c19's shard packing then charges
    val addTok = c15.filter(_.getString(1) == "add")
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    c19.filter(_.getString(1) == "enter").foreach { r =>
      val (id, tok) = (r.getLong(0), r.getLong(4))
      assert(addTok.get(id).contains(tok),
        s"enter $id token charge $tok diverges from its c15 add ${addTok.get(id)}")
      assert(docTok(id) === tok,
        s"enter $id token charge $tok diverges from size(split(text)) ${docTok(id)}")
    }
    // (4) SETTLED UNIVERSE: every family's staged settled artifact
    // describes the SAME settled corpus — the % 10 <> 0 slice
    val nSettledDocs = Tables.documents(spark, sf01)
      .filter(col("doc_id") % 10 =!= 0).count()
    val (_, _, baseStats) = graft.queries.TextAnalysis.bm25SettledIndex(spark, sf01)
    assert(baseStats.collect()(0).getLong(0) === nSettledDocs,
      "t30's settled stats row disagrees with the settled corpus size")
    val (digS, _) = graft.queries.Multimodal.m9SettledIndex(spark, sf01)
    assert(digS.count() === nSettledDocs,
      "m9's settled digest table disagrees with the settled corpus size")
    val nSettledVecs = Tables.embeddings(spark, sf01)
      .filter(col("vec_id") % 10 =!= 0).count()
    assert(graft.queries.Similarity.s18SettledCodes(spark, sf01)
      .select("vec_id").distinct().count() === nSettledVecs,
      "s18's settled code table disagrees with the settled vector count")
    val (sClusters, m0) = P.c15SettledIndex(spark, sf01)
    assert(m0.filter(col("doc_id") % 10 === 0).count() === 0L,
      "c15's settled manifest contains delta docs")
    assert(sClusters.filter(col("doc_id") % 10 === 0).count() === 0L,
      "c15's settled cluster table contains delta docs")
  }

  test("skew gate: both outcomes fire on command and summarize honestly (c19_fold_gate)") {
    val sf01 = "/root/testdata/sf0.01"
    val P = graft.queries.Pipeline
    // at sf0.01 the DEFAULT threshold fires: the reading's small-sample
    // noise puts max|skew| at 0.0639 > 0.02 (scaladoc's measured value) —
    // this is the branch the driver's correctness gate oracle-proves
    val d = P.c19_fold_gate(spark, sf01).collect()(0)
    assert(d.getString(1) === "fold_now")
    assert(d.getDouble(0) > 0.02)
    // drive the knob to the other side ON THE SAME DATA: hold reports the
    // same reading and an all-zero work summary (nothing folded)
    spark.conf.set("spark.graft.c19SkewGate", "0.9")
    try {
      val h = P.c19_fold_gate(spark, sf01).collect()(0)
      assert(h.getString(1) === "hold")
      assert((2 to 5).forall(i => h.getLong(i) === 0L))
      assert(h.getDouble(0) === d.getDouble(0),
        "the reading must not depend on the threshold")
    } finally spark.conf.unset("spark.graft.c19SkewGate")
    // the fold branch's summary IS the real c19 fold, not an estimate
    val led = P.c19_curriculum_delta(spark, sf01).collect()
    assert(d.getLong(2) === led.count(_.getString(1) == "enter").toLong)
    assert(d.getLong(3) === led.count(_.getString(1) == "leave").toLong)
    assert(d.getLong(4) === led.count(_.getString(1) == "move").toLong)
    assert(d.getLong(5) === P.c19_shard_delta(spark, sf01).count())
  }

  test("bench class tags route every query to its adjudication scalar") {
    // the artifact's `class` map (r14 verdict #4b): streaming twins read
    // against calib_stream, the release-funnel audit chain against calib,
    // everything else raw-first — and the tagging must COVER the declared
    // surface (a query class the driver can't resolve defeats the point)
    assert(Bench.queryClass("x10_tws_timer_resolver") === "stream")
    assert(Bench.queryClass("x42_stream_stage_skew") === "stream")
    assert(Bench.queryClass("c14_quality_classifier") === "audit-chain")
    assert(Bench.queryClass("c19_shard_delta") === "audit-chain")
    assert(Bench.queryClass("c20_release_increment") === "audit-chain")
    assert(Bench.queryClass("q1_agg") === "batch")
    assert(Bench.queryClass("d13_incremental_neardup") === "batch")
    val tags = SparkEntry.queries.keys.map(Bench.queryClass).toSet
    assert(tags.subsetOf(Set("batch", "stream", "audit-chain")))
  }
}
