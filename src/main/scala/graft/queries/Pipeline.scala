package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end pretraining-corpus cleaning pipeline as ONE declarative
  * query — the composition a 100 TB training-data prep actually runs, in
  * the standard order:
  *
  *   1. fuzzy dedup (MinHash-LSH pairs → connected components → keep each
  *      cluster's min-id representative; unclustered docs keep themselves),
  *   2. language gate (t3's marker-profile argmax must say 'en'),
  *   3. quality gate (t2's blended heuristic ≥ 0.5).
  *
  * Mirrors how `LdbcE2E` chains the reference's parser→resolver→window
  * path: each stage is an already-oracled operator (d8, t3, t2), so the
  * composition is pure plan surface — three doc_id-keyed shuffle joins, no
  * new state, no driver loop beyond d8's inherent fixpoint counts. At
  * scale every join key is doc_id, so the stages co-partition and AQE can
  * collapse the exchanges; nothing here is broadcast except what the
  * component stages already bound.
  */
object Pipeline {

  def c1_clean_corpus(s: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.d8_dup_clusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    // survivor of dedup: the cluster representative (min doc_id) — or the
    // doc was never in any near-dup pair and represents itself
    val keepers = Tables.documents(s, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"))
    val quality = TextAnalysis.t2_quality_score(s, dir)
      .select(col("doc_id"), col("quality"))
    val lang = TextAnalysis.t3_lang_id(s, dir)
      .select(col("doc_id"), col("predicted"))
    keepers
      .join(lang, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .filter(col("predicted") === "en" && col("quality") >= 0.5)
      .select(col("doc_id"), col("predicted"), col("quality"))
      .orderBy("doc_id")
  }

  /** Oracle: the same three stages spliced in as nested CTEs — d8's
    * recursive-reachability components, t3's marker scoring, t2's blended
    * quality — each reused VERBATIM so the composition can't drift from
    * its parts. */
  val c1Sql: String =
    s"""WITH dup AS (
       |${Dedup.d8Sql}
       |), q AS (
       |${TextAnalysis.t2Sql}
       |), p AS (
       |${TextAnalysis.t3Sql}
       |)
       |SELECT d.doc_id, p.predicted, q.quality
       |FROM documents d
       |LEFT JOIN dup ON d.doc_id = dup.doc_id
       |JOIN p ON d.doc_id = p.doc_id
       |JOIN q ON d.doc_id = q.doc_id
       |WHERE (dup.doc_id IS NULL OR dup.cluster_id = dup.doc_id)
       |  AND p.predicted = 'en' AND q.quality >= 0.5
       |ORDER BY d.doc_id""".stripMargin

  /** C7: the DROP LEDGER — the cleaning funnel's loss accounting, the
    * audit every production pipeline publishes next to its cleaned corpus:
    * every document attributed to the FIRST stage of c1 that drops it
    * (`dup_loser` → `not_english` → `low_quality` → `kept`, c1's own
    * order), rolled up per (source, reason) with the cell's mean quality.
    * This is what answers "where did 40% of src3 go?" during a release
    * review, and what catches a filter suddenly eating a source after an
    * upstream change (t29's drift alarm, attributed to a stage).
    *
    * Pure plan composition over the already-oracled stages (d8, t3, t2 —
    * c1's exact relations, so ledger and corpus can't disagree): three
    * doc_id-keyed co-partitioned joins, one CASE projection, one bounded
    * (source × 4 reasons) aggregation. The kept-count-equals-c1 invariant
    * is spec-pinned. */
  def c7_drop_ledger(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val clusters = Dedup.d8_dup_clusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val lang = TextAnalysis.t3_lang_id(s, dir)
      .select(col("doc_id"), col("predicted"))
    val quality = TextAnalysis.t2_quality_score(s, dir)
      .select(col("doc_id"), col("quality"))
    docs
      .join(clusters, Seq("doc_id"), "left")
      .join(lang, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .withColumn("reason",
        when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
             "dup_loser")
          .when(col("predicted") =!= "en", "not_english")
          .when(col("quality") < 0.5, "low_quality")
          .otherwise("kept"))
      .withColumn("qi", floor(col("quality") * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"),
           QUtil.round4(sum(col("qi")).cast("double") / 1000000.0 / count(lit(1)))
             .as("mean_quality"))
      .orderBy("source", "reason")
  }

  val c7Sql: String =
    s"""WITH dup AS (
       |${Dedup.d8Sql}
       |), q AS (
       |${TextAnalysis.t2Sql}
       |), p AS (
       |${TextAnalysis.t3Sql}
       |), led AS (
       |  SELECT d.source,
       |    CASE WHEN dup.doc_id IS NOT NULL AND dup.cluster_id <> dup.doc_id
       |           THEN 'dup_loser'
       |         WHEN p.predicted <> 'en' THEN 'not_english'
       |         WHEN q.quality < 0.5 THEN 'low_quality'
       |         ELSE 'kept' END AS reason,
       |    floor(q.quality * 1000000.0 + 0.5)::BIGINT AS qi
       |  FROM documents d
       |  LEFT JOIN dup ON d.doc_id = dup.doc_id
       |  JOIN p ON d.doc_id = p.doc_id
       |  JOIN q ON d.doc_id = q.doc_id
       |)
       |SELECT source, reason, count(*)::BIGINT AS n_docs,
       |  floor(sum(qi)::DOUBLE / 1000000.0 / count(*) * 10000.0 + 0.5)
       |    / 10000.0 AS mean_quality
       |FROM led GROUP BY 1, 2 ORDER BY source, reason""".stripMargin

  /** C3: the DECONTAMINATED training corpus — c1's cleaned survivors minus
    * (a) the eval set itself (the bounded `doc_id % 100` contract: eval
    * documents never train) and (b) any training document sharing ≥ 2
    * n-grams with an eval document (t14's overlap table) — the GPT-3-style
    * "remove overlapping documents" pass every serious pretraining run
    * performs between cleaning and tokenization.
    *
    * Pure plan composition again: both stages are already-oracled
    * operators (c1, t14); the gate is one doc_id-keyed LEFT ANTI join, so
    * it co-partitions with c1's own doc_id joins and AQE collapses the
    * exchanges. The contamination table reuses t14's gram-keyed shuffle;
    * nothing new is broadcast. */
  def c3_decontaminated(s: SparkSession, dir: String): DataFrame = {
    val contaminated = TextAnalysis.t14ContaminatedIds(s, dir)
    c1_clean_corpus(s, dir)
      .filter(col("doc_id") % 100 =!= 0) // eval docs never train
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Oracle: c1's and t14's SQL spliced verbatim, gated by NOT EXISTS. */
  val c3Sql: String =
    s"""WITH cln AS (
       |$c1Sql
       |), cont AS (
       |${TextAnalysis.t14Sql}
       |)
       |SELECT c.doc_id, c.predicted, c.quality
       |FROM cln c
       |WHERE c.doc_id % 100 <> 0
       |  AND NOT EXISTS (SELECT 1 FROM cont
       |                  WHERE cont.train_doc = c.doc_id AND cont.n_shared >= 2)
       |ORDER BY c.doc_id""".stripMargin

  /** C4: the DATASET CARD rollup — the per-slice summary table every
    * released corpus ships (docs, token mass, exact-duplicate share, mean
    * quality per language × source, with subtotals): `ROLLUP(lang,
    * source)` over the already-oracled component signals (t1 tokens, t2
    * quality, d1 exact-dup groups). This is the report a data-governance
    * review reads before a 100 TB corpus is approved for training.
    *
    * Scale shape: one doc_id-keyed join spine (co-partitioned, AQE
    * collapses the exchanges like c1/c3), then a single rollup aggregate
    * — Spark expands rollup grouping sets inside one shuffle, not one
    * pass per level. The duplicate flag reuses d1's one-hash-shuffle
    * semantics; quality means sum 4-dp grid BIGINTs (the t6 micro-grid
    * discipline) so subtotal means are order-independent and hash
    * cross-engine. Nothing is broadcast; the card is a few hundred rows
    * at any corpus size (bounded by the lang × source inventory). */
  def c4_corpus_card(s: SparkSession, dir: String): DataFrame = {
    val toksCount = TextAnalysis.t1_token_stats(s, dir)
      .select(col("doc_id"), col("n_tokens"))
    val quality = TextAnalysis.t2_quality_score(s, dir)
      .select(col("doc_id"),
              // 4-dp grid as BIGINT: exact, order-independent group sums
              floor(col("quality") * 10000.0 + 0.5).cast("long").as("qi"))
    val dup = Dedup.d1_exact_dedup(s, dir)
      .select(col("doc_id"), col("is_dup").cast("long").as("is_dup"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(toksCount, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .join(dup, Seq("doc_id"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           sum(col("is_dup")).as("n_dup_docs"),
           QUtil.round4(sum(col("qi")).cast("double") / 10000.0
                        / count(lit(1))).as("mean_quality"))
      .orderBy("lang", "source")
  }

  /** Oracle: t1/t2/d1 SQL spliced verbatim, one GROUP BY ROLLUP. */
  val c4Sql: String =
    s"""WITH tok AS (
       |${TextAnalysis.t1Sql}
       |), q AS (
       |${TextAnalysis.t2Sql}
       |), dup AS (
       |${Dedup.d1Sql}
       |)
       |SELECT d.lang, d.source, count(*)::BIGINT AS n_docs,
       |  sum(tok.n_tokens)::BIGINT AS n_tokens,
       |  sum(CASE WHEN dup.is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       |  floor(sum(floor(q.quality * 10000.0 + 0.5)::BIGINT)::DOUBLE / 10000.0
       |        / count(*) * 10000.0 + 0.5) / 10000.0 AS mean_quality
       |FROM documents d
       |JOIN tok ON d.doc_id = tok.doc_id
       |JOIN q ON d.doc_id = q.doc_id
       |JOIN dup ON d.doc_id = dup.doc_id
       |GROUP BY ROLLUP(d.lang, d.source)
       |ORDER BY 1, 2""".stripMargin

  /** C5: MATERIALIZE the training mixture t15 only prescribes — select
    * documents until each language's token budget is filled, where the
    * budget is `w_mix × (half the corpus's tokens)`. This is the step
    * between "DoReMi/Pile weights computed" and "tokenizer input written":
    * a deterministic, reproducible subsample whose realized token shares
    * track the prescribed mixture.
    *
    * Selection order is a portable LCG hash of doc_id (engine-exact
    * integer arithmetic — no rand(), so reruns and the oracle agree), and
    * the per-language greedy prefix "keep docs until the budget fills"
    * needs a running token sum in that order WITHOUT a per-language global
    * sort (at 100 TB a language is most of the corpus — one sort task).
    * Same decomposition as t6's decile ranking: 256 hash buckets, exact
    * per-bucket token sums prefix-summed over a bounded (lang × 256)
    * relation, then a windowed cumsum only WITHIN each (lang, bucket)
    * partition — bounded local sorts, global order (bucket, h, doc_id).
    * Output per language: docs/tokens kept vs the target and the fill
    * ratio a mixture audit reads. */
  def c5_mixture_materialize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = TextAnalysis.t3_lang_id(s, dir).select(col("doc_id"), col("predicted").as("plang"))
      .join(TextAnalysis.t1_token_stats(s, dir).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .withColumn("h", pmod(col("doc_id") * lit(1103515245L) + lit(12345L), lit(2147483648L)))
      .withColumn("bkt", pmod(col("h"), lit(256L)))
    val perBkt = docs.groupBy(col("plang"), col("bkt")).agg(sum(col("n_tokens")).as("bt"))
    val off = perBkt.withColumn("boff", coalesce(sum(col("bt")).over(
        Window.partitionBy(col("plang")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("plang"), col("bkt"), col("boff"))
    val cum = docs.join(broadcast(off), Seq("plang", "bkt")) // bounded: langs × 256 rows
      .withColumn("cum", col("boff") + sum(col("n_tokens")).over(
        Window.partitionBy(col("plang"), col("bkt")).orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val total = docs.agg(sum(col("n_tokens")).as("tot")) // 1 row
    val tgt = TextAnalysis.t15_mixture_weights(s, dir).select(col("lang").as("plang"), col("w_mix"))
      .crossJoin(broadcast(total))
      .withColumn("tgt", floor(col("w_mix") * col("tot").cast("double") * 0.5).cast("long"))
      .select(col("plang"), col("tgt"))
    cum.join(broadcast(tgt), Seq("plang")) // bounded: one row per language
      .filter(col("cum") - col("n_tokens") < col("tgt"))
      .groupBy(col("plang"), col("tgt"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
      .select(col("plang").as("lang"), col("n_docs_kept"), col("tokens_kept"),
              col("tgt").as("tgt_tokens"),
              QUtil.round4(col("tokens_kept").cast("double") / col("tgt")).as("fill"))
      .orderBy("lang")
  }

  /** Oracle: t1/t3/t15 SQL spliced verbatim; the same LCG order, bucketed
    * prefix sums, and greedy-prefix predicate. Windowed sums are cast back
    * to BIGINT before surfacing (DuckDB windowed sum → HUGEINT → float64
    * in pandas — the t6 lesson). */
  val c5Sql: String =
    s"""WITH tok AS (
       |${TextAnalysis.t1Sql}
       |), p AS (
       |${TextAnalysis.t3Sql}
       |), w AS (
       |${TextAnalysis.t15Sql.replace("ORDER BY lang", "ORDER BY 1")}
       |), docs AS (
       |  SELECT p.doc_id, p.predicted AS plang, tok.n_tokens,
       |    ((p.doc_id * 1103515245 + 12345) % 2147483648 + 2147483648) % 2147483648 AS h
       |  FROM p JOIN tok USING (doc_id)
       |), b AS (
       |  SELECT *, h % 256 AS bkt FROM docs
       |), pb AS (
       |  SELECT plang, bkt, sum(n_tokens)::BIGINT AS bt FROM b GROUP BY 1, 2
       |), off AS (
       |  SELECT plang, bkt, coalesce(sum(bt) OVER (PARTITION BY plang ORDER BY bkt
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS boff
       |  FROM pb
       |), cum AS (
       |  SELECT b.plang, b.doc_id, b.n_tokens,
       |    (off.boff + sum(b.n_tokens) OVER (PARTITION BY b.plang, b.bkt
       |      ORDER BY b.h, b.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
       |  FROM b JOIN off ON b.plang = off.plang AND b.bkt = off.bkt
       |), tgt AS (
       |  SELECT w.lang AS plang,
       |    floor(w.w_mix * (SELECT sum(n_tokens) FROM docs)::DOUBLE * 0.5)::BIGINT AS tgt
       |  FROM w
       |)
       |SELECT cum.plang AS lang, count(*)::BIGINT AS n_docs_kept,
       |  sum(cum.n_tokens)::BIGINT AS tokens_kept, tgt.tgt AS tgt_tokens,
       |  floor(sum(cum.n_tokens)::DOUBLE / tgt.tgt * 10000.0 + 0.5) / 10000.0 AS fill
       |FROM cum JOIN tgt ON cum.plang = tgt.plang
       |WHERE cum.cum - cum.n_tokens < tgt.tgt
       |GROUP BY 1, 4 ORDER BY 1""".stripMargin

  /** C6: deterministic TRAIN/VAL/TEST SPLIT — the reproducibility
    * primitive every training-data prep ends with: each document is
    * assigned to a split by a SALTED CONTENT-INDEPENDENT HASH of its id,
    * so (a) the assignment is stable across reruns, engines, and cluster
    * sizes (no rand(), no row order dependence), (b) adding documents
    * never reassigns existing ones (the property that keeps eval sets
    * frozen as the corpus grows), and (c) the salt ("split:") decorrelates
    * this hash from every other doc_id-hash use in the pipeline (t8's
    * sampling, c5's LCG order). Fractions: 12/16 train, 2/16 val, 2/16
    * test via the first hex digit of md5 — hash uniformity makes the split
    * stratified per language without a per-language pass.
    *
    * Scale shape: a pure per-row projection inside the parquet scan — NO
    * shuffle (the orderBy is presentation-only), whole-stage codegen,
    * embarrassingly parallel at any scale. Token counts ride along so the
    * downstream budget accounting never rescans text. */
  def c6_train_split(s: SparkSession, dir: String): DataFrame = {
    val hx = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"),
              when(hx <= "b", "train").when(hx <= "d", "val").otherwise("test")
                .as("split"))
      .orderBy("doc_id")
  }

  val c6Sql: String =
    """SELECT doc_id, lang,
      |  len(string_split(text, ' '))::BIGINT AS n_tokens,
      |  CASE WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
      |       WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The ONE sizing source for the decontamination bloom — read by BOTH the
    * batch gate (c9's scalar-subquery sketch) and the online gate (x37's
    * frozen literal sketch), so retuning the knobs can never silently
    * diverge the two paths' FP rates. Sizing only moves the FP rate — both
    * gates exact-verify survivors, so correctness is sizing-independent by
    * construction (spec-pinned in StreamingSpec). */
  private[graft] def bloomDecontamSizing(s: SparkSession): (Long, Long) =
    (s.conf.get("spark.graft.bloomDecontamItems", "1048576").toLong,
     s.conf.get("spark.graft.bloomDecontamBits", "10485760").toLong)

  /** C9: BLOOM-PRUNED decontamination — t14's gram-overlap contamination
    * relation computed behind a broadcast bloom pre-filter, the 100 TB
    * form of the decontamination shuffle. t14's scale note already says
    * the eval suite is bounded-but-NOT-broadcastable (millions of grams);
    * what CAN ship to every executor is its fixed-size bloom:
    * `bloom_filter_agg` over the eval grams (Spark's own runtime-filter
    * sketch machinery — the same composition Catalyst's
    * `InjectRuntimeFilter` builds for shuffle-join pruning, stated
    * explicitly as an operator), inlined once as a scalar subquery
    * (`Dataset.scalar()`), probed with `might_contain(sketch,
    * xxhash64(gram))` on the training side BEFORE the gram shuffle.
    * Catalyst pushes the probe below the join into the train-side scan, so
    * only grams that MIGHT match ever enter the exchange; the exact join
    * over survivors then makes the result IDENTICAL to t14 (blooms have no
    * false negatives — false positives only cost shuffle rows, bounded by
    * the `spark.graft.bloomDecontam{Items,Bits}` sizing: 10M bits ≈ 1.2 MB
    * broadcast, <1% FP at 1M eval grams). Measured at sf0.01: 25,943
    * train gram rows → 205 entering the join (99.2% of the shuffle
    * pruned); oracle = t14's exact SQL, unchanged by construction.
    *
    * `might_contain` requires its sketch operand to be a constant or a
    * scalar subquery: Spark builds the sketch once, inlines it as a
    * literal into the codegen'd probe filter and deserializes it once per
    * task — exactly the build-once semantics the pre-filter needs. */
  def c9_bloom_decontam(s: SparkSession, dir: String): DataFrame = {
    val (items, bits) = bloomDecontamSizing(s)
    val grams = TextAnalysis.docGramsStr(s, dir, 3)
    val ev = grams.filter(col("doc_id") % 100 === 0)
    val sketch = ev
      .select(graft.functions.bloom_filter_agg(xxhash64(col("gram")), lit(items), lit(bits)))
      .scalar()
    val tr = grams.filter(col("doc_id") % 100 =!= 0)
      .filter(graft.functions.might_contain(sketch, xxhash64(col("gram"))))
    tr.select(col("doc_id").as("train_doc"), col("gram"))
      .join(ev.select(col("doc_id").as("eval_doc"), col("gram")), Seq("gram"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count_distinct(col("gram")).as("n_shared"))
      .orderBy("train_doc", "eval_doc")
  }

  /** C10: the SPLIT-LEAKAGE AUDIT — the eval-integrity check every serious
    * train/val/test release runs AFTER near-dup detection: a test document
    * that is a near-duplicate of a training document inflates every eval
    * number computed on it (the memorization-vs-generalization confound),
    * and random hash splits (c6's) produce such pairs by construction —
    * splitting must happen at the DUPLICATE-CLUSTER level, and this audit
    * is the query that proves whether it did. Emits every verified
    * near-dup pair (d3's staged pair table at d8's ≥ 0.5 edge threshold)
    * whose endpoints landed in DIFFERENT splits, with both splits and the
    * pair's Jaccard — the work list a release review either empties
    * (re-split by cluster) or signs off.
    *
    * Pure composition of two already-oracled operators (d3 pairs, c6
    * split): two doc_id-keyed broadcast-able joins of the bounded pair
    * table against the split projection; the expensive signature work is
    * the staged d3 relation every dedup consumer already shares. At
    * 100 TB the pair table is the LSH-bounded candidate set — the audit
    * costs two narrow joins over it, never a corpus pass of its own. */
  def c10_split_leakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.d3Pairs(s, dir).filter(col("jaccard") >= 0.5)
    val splits = c6_train_split(s, dir).select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
            Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
            Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
              col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: d3's pair CTE spliced verbatim + c6's split CASE, the same
    * threshold d8 uses for edges. */
  val c10Sql: String =
    s"""WITH prs AS (
       |${Dedup.d3SqlBody}
       |), sp AS (
       |  SELECT doc_id,
       |    CASE WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
       |         WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents
       |)
       |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
       |       p.jaccard
       |FROM prs p
       |JOIN sp sa ON sa.doc_id = p.doc_a
       |JOIN sp sb ON sb.doc_id = p.doc_b
       |WHERE p.jaccard >= 0.5 AND sa.split <> sb.split
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** C11: CLUSTER-ANCHORED SPLIT — c10's remediation, the split discipline
    * every leakage-clean release actually ships: the train/val/test hash is
    * keyed on the document's duplicate-CLUSTER representative (d8's
    * cluster_id; unclustered docs anchor themselves), so an entire near-dup
    * cluster lands in ONE split and c10's leak set is empty BY
    * CONSTRUCTION — every ≥ 0.5 pair is a d8 edge, hence same cluster,
    * hence same anchor, hence same split (the invariant is both provable
    * and spec-pinned on the real tables). Same salted-md5 assignment as c6
    * (c6's eval-set-freeze property carries over per anchor); one extra
    * doc_id-keyed left join against the d8 relation the pipeline already
    * computes — at 100 TB the fix costs one narrow join, not a new pass.
    *
    * c6 remains the naive baseline the audit runs against — the pair
    * (c6 → c10 → c11) is the audit → measured defect → remediation chain,
    * the same shape as s19's depth study and c2's prune audit. */
  def c11_cluster_split(s: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.d8_dup_clusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val anchor = coalesce(col("cluster_id"), col("doc_id"))
    val hx = substring(md5(concat(lit("split:"), anchor.cast("string"))), 1, 1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
              anchor.as("anchor"),
              when(hx <= "b", "train").when(hx <= "d", "val").otherwise("test")
                .as("split"))
      .orderBy("doc_id")
  }

  val c11Sql: String =
    s"""WITH comp AS (
       |${Dedup.d8Sql}
       |), anch AS (
       |  SELECT d.doc_id, d.lang,
       |    len(string_split(d.text, ' '))::BIGINT AS n_tokens,
       |    coalesce(c.cluster_id, d.doc_id) AS anchor
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |)
       |SELECT doc_id, lang, n_tokens, anchor,
       |  CASE WHEN substring(md5('split:' || anchor::VARCHAR), 1, 1) <= 'b' THEN 'train'
       |       WHEN substring(md5('split:' || anchor::VARCHAR), 1, 1) <= 'd' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM anch ORDER BY doc_id""".stripMargin

  /** C12: the SPLIT-DELTA LEDGER — the release-engineering consequence of
    * adopting c11's cluster-anchored split over c6's naive doc-hash split
    * (the audit leg of the c6 → c10 → c11 chain): re-splitting moves
    * every doc whose cluster anchor hashes into a different bucket than
    * its own id, and a release review needs the
    * per-doc ledger of those moves plus the ONE transition that
    * invalidates frozen eval history — a c6 `test` doc landing in c11
    * `train` (its content, published with an earlier eval freeze, would
    * enter the training corpus: the re-split variant of c7's drop
    * ledger). Emits (doc_id, anchor, split_c6, split_c11,
    * frozen_eval_leak) for every MOVED doc.
    *
    * Scale shape: one doc_id equi-join of two projections the pipeline
    * already computes (both sides co-partitioned on the doc_id spine);
    * only movers survive the filter, and a mover necessarily has
    * anchor ≠ doc_id (a self-anchored doc hashes identically under both
    * schemes — the invariant the smoke spec pins), so the ledger is
    * bounded by the CLUSTERED doc count, a vanishing fraction at 100 TB. */
  def c12_split_delta(s: SparkSession, dir: String): DataFrame = {
    val before = c6_train_split(s, dir)
      .select(col("doc_id"), col("split").as("split_c6"))
    val after = c11_cluster_split(s, dir)
      .select(col("doc_id"), col("anchor"), col("split").as("split_c11"))
    after.join(before, Seq("doc_id"))
      .filter(col("split_c6") =!= col("split_c11"))
      .select(col("doc_id"), col("anchor"), col("split_c6"), col("split_c11"),
              (col("split_c6") === "test" && col("split_c11") === "train")
                .as("frozen_eval_leak"))
      .orderBy("doc_id")
  }

  val c12Sql: String =
    s"""WITH comp AS (
       |${Dedup.d8Sql}
       |), anch AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS anchor
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |), sp6 AS (
       |  SELECT doc_id,
       |    CASE WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
       |         WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
       |         ELSE 'test' END AS split_c6
       |  FROM documents
       |), sp11 AS (
       |  SELECT doc_id, anchor,
       |    CASE WHEN substring(md5('split:' || anchor::VARCHAR), 1, 1) <= 'b' THEN 'train'
       |         WHEN substring(md5('split:' || anchor::VARCHAR), 1, 1) <= 'd' THEN 'val'
       |         ELSE 'test' END AS split_c11
       |  FROM anch
       |)
       |SELECT s11.doc_id, s11.anchor, s6.split_c6, s11.split_c11,
       |  (s6.split_c6 = 'test' AND s11.split_c11 = 'train') AS frozen_eval_leak
       |FROM sp11 s11 JOIN sp6 s6 ON s6.doc_id = s11.doc_id
       |WHERE s6.split_c6 <> s11.split_c11
       |ORDER BY s11.doc_id""".stripMargin

  /** C13: the RELEASE MANIFEST — the one relation a training-data release
    * actually ships, and the composition every prior c-query exists to
    * feed: the deduplicated (c1: cluster representatives only), quality-
    * and language-gated (c1), eval-excluded and DECONTAMINATED (c3: no
    * doc sharing ≥ 2 grams with the eval suite) document set, each row
    * carrying its language, quality score, token count (the budget
    * accounting column), cluster anchor, and its LEAK-FREE split (c11's
    * cluster-anchored assignment — the one c10 audits and c12 ledgers).
    * A consumer reading this manifest needs no other table to build the
    * corpus: filter split = 'train', sum n_tokens, fetch text by doc_id.
    *
    * Scale shape: one doc_id equi-join of two relations the pipeline
    * already computes, both projections co-partitioned on the doc_id
    * spine — the manifest costs nothing beyond its inputs at any scale. */
  def c13_release_manifest(s: SparkSession, dir: String): DataFrame =
    c3_decontaminated(s, dir)
      .select(col("doc_id"), col("predicted").as("lang"), col("quality"))
      .join(c11_cluster_split(s, dir)
              .select(col("doc_id"), col("n_tokens"), col("anchor"), col("split")),
            Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"),
              col("anchor"), col("split"))
      .orderBy("doc_id")

  /** Oracle: the c3 and c11 oracles verbatim as derived tables (each
    * carries its own WITH chain), joined on the doc spine. */
  val c13Sql: String =
    s"""SELECT b.doc_id, b.predicted AS lang, b.quality, s.n_tokens,
       |       s.anchor, s.split
       |FROM ($c3Sql) b JOIN ($c11Sql) s ON s.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** The c14 trainer's two hyper-parameters, single-sourced for the Spark
    * chain and the unrolled oracle (the Sq8RerankDepthDefault discipline).
    * Both were decided by a MEASURED sweep (DuckDB CTE-literal sweep on
    * the real tables, then replicated-grid numpy confirmation;
    * NOTES_r12.md):
    *
    *   - iterations 8: recall-at-half-budget on the trusted slice climbs
    *     4 → 8 (sf0.1: 0.566 → 0.662) and plateaus beyond (12: 0.662,
    *     16: 0.660) — the batch-GD knee;
    *   - step size η = 32: η = 128 OSCILLATES (sf0.1 recall 0.568 at
    *     it=4 but 0.512-0.570 at it=6/8/16 — overshooting), η = 8 is
    *     still climbing at the iteration budget. 32 is also a power of
    *     two, so the step scaling η·g is EXACT in binary floating point
    *     (the 6-dp re-pin then makes exactness moot, but the choice costs
    *     nothing);
    *   - the same-feature-space generative ceiling (t28's DSIR ranking,
    *     re-ranked at half budget): 0.738 — the 8-round discriminative
    *     fit lands within ~0.08 of it. */
  private[graft] val QualityGdIters = 8
  private[graft] val QualityGdEta = 32

  /** C14: the MODEL-BASED QUALITY GATE — the one standard LLM-pipeline
    * stage of the c-family: a
    * TRAINED classifier scoring every document, DCLM / FineWeb-Edu class.
    * The c-family's quality gate so far is t2's arithmetic heuristic; the
    * modern pipeline trains a linear model whose positives are a TRUSTED
    * slice and keeps the top of the score distribution. Everything here
    * composes already-proven machinery:
    *
    *   - features: t28's 256-bucket hashed unigram+bigram space (bucket =
    *     first 2 hex chars of md5(gram)) — structurally bounded, so the
    *     weight relation broadcasts legitimately at any corpus size;
    *     per-doc feature x = bucket count / doc gram count, 6-dp grid;
    *   - labels: the trusted slice (src0/src1 — t26/t28's contract) = 1,
    *     the raw web = 0 (FineWeb-Edu's seed-vs-crawl discipline);
    *   - training: [[QualityGdIters]] batch-gradient-descent iterations of
    *     logistic regression IN-ENGINE at step [[QualityGdEta]], t22's
    *     exact cross-engine discipline (iteration 1 starts at w = 0 where
    *     p ≡ ½ exactly; residual products summed in DECIMAL(30,20); every
    *     transcendental pinned to the 6-dp grid before re-entering
    *     arithmetic); the oracle unrolls ALL iterations as MATERIALIZED
    *     CTEs generated from the same loop (s4/t18's pattern);
    *   - the score: the final MARGIN (logit), not the sigmoid — monotone
    *     in the probability, and immune to the measured failure mode
    *     where grid-pinning collapses saturated sigmoids (at η ≥ 128
    *     every doc's probability pins to the same 6-dp point and the
    *     gate degenerates to keep-all — the η sweep caught this);
    *   - the gate: keep the top half of the score distribution (budget
    *     K = ⌈N/2⌉) — selected WITHOUT a global doc sort and WITHOUT a
    *     corpus-bound window: the 6-dp grid histogram (group by grid
    *     point) is coarsened by the STRUCTURALLY bounded monotone key
    *     ⌊100·σ(margin)⌋ ∈ [0,100]; the only unpartitioned window runs
    *     over that ≤101-row coarse relation, and the per-grid-point
    *     cumulative is partitioned by the single bucket where the K-th
    *     rank crosses — t6's two-level decile shape applied to exact
    *     quantile selection (the grid itself is corpus-bound in the
    *     worst case, which the plan-audit spec rightly flags for a
    *     single global window). Ties keep: the keep-set is the smallest
    *     score-threshold superset of K docs, a doc's fate depends only
    *     on its score.
    *
    * Scale shape: per training iteration ONE (doc,bucket)-keyed agg joined
    * against a ≤257-row broadcast weight relation — gradients are map-side
    * combined partial sums, the corpus streams once per iteration (Lloyd's
    * profile, s4); scoring is one more such pass; threshold selection
    * never sorts docs. Nothing driver-side. The gradient grid survives
    * corpus growth: per-bucket components are means of O(1)-magnitude
    * terms over the docs that HIT the bucket (a Θ(1/256) fraction), so
    * they do not vanish into the 6-dp grid as N grows.
    *
    * MEASURED at half-budget (trusted-slice recall vs the 0.5 random
    * baseline): sf0.01 0.88, sf0.1 0.66 — vs t28's generative DSIR
    * ranking at 0.738 (sf0.1, same features). [[c14_gate_compare]] grades
    * the keep-set against t2's heuristic gate; the funnel slot (gating
    * c13's manifest) is spec-pinned in QueriesSmokeSpec.
    *
    * Emits (doc_id, trusted, score, keep) — the per-doc gate artifact a
    * filtering job ships. */
  def c14_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    val (labels, score, _, _, tau) = c14Model(s, dir)
    score.join(labels.select(col("doc_id"), col("y")), Seq("doc_id"))
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), (col("y") === 1.0).as("trusted"), col("score"),
              (col("si") >= col("tau")).as("keep"))
      .orderBy("doc_id")
  }

  /** The c14 TRAINING CHAIN staged per session — hashed-gram labels, the
    * scored corpus, the trained (w, bias), and the half-budget threshold
    * τ: ONE model shared by the batch gate ([[c14_quality_classifier]]/
    * [[c14_gate_compare]]) and x40's online scorer, the frozen-artifact
    * rule every online twin follows (x27's LM, x34's codebooks, x38's
    * centroids — train offline, serve at the door). Returns
    * (labels(doc_id, n, y), score(doc_id, score, si), w(bucket, w),
    * bias(bias), tau(tau)). */
  private[graft] def c14Model(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    QUtil.stage(s, ("c14Model", dir)) { c14ModelUncached(s, dir) }

  /** C14's featurization, factored so the batch trainer and x40's online
    * gate run the IDENTICAL op sequence (the t2/t3 `qualityExpr`/
    * `predictedExpr` discipline applied to the gram pipeline — a future
    * featurization change lands in both paths at once instead of
    * desynchronizing them until the shared oracle trips): each document
    * explodes into its unigram+bigram stream and every gram keys to its
    * 256-way hashed bucket (first 2 hex chars of md5 — t28's space).
    * Emits one row per gram OCCURRENCE: (doc_id, source, bucket). */
  private[graft] def hashedGramBuckets(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    docs
      .select(col("doc_id"), col("source"), tk.as("tk"), size(tk).as("nt"))
      .select(col("doc_id"), col("source"),
        explode(concat(col("tk"),
          when(col("nt") >= 2,
            expr("transform(sequence(1, nt - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
            .otherwise(typedlit(Seq.empty[String])))).as("gram"))
      .select(col("doc_id"), col("source"),
              substring(md5(col("gram").cast("binary")), 1, 2).as("bucket"))
  }

  private def c14ModelUncached(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val DEC = "decimal(30,20)"
    val r6 = QUtil.round6 _
    val eta = lit(QualityGdEta.toDouble)
    val grams = hashedGramBuckets(Tables.documents(s, dir))
    // doc_id-ALIGNED staging (removes shuffles outright): every consumer
    // below — labels' groupBy, feats' join, each iteration's margins
    // groupBy(doc_id) and gradient join — clusters on doc_id, and
    // localCheckpoint PRESERVES the checkpointed plan's output
    // partitioning, so one compact repartition of the aggregated (doc,
    // bucket) rows here removes the per-iteration Exchange over the feature
    // table (8 iterations × 2 ops each: measured 16 → 1 feats-sized
    // exchanges for the whole trainer). The gram-occurrence aggregation
    // itself still shuffles ONCE keyed (doc,source,bucket) with map-side
    // partial aggregation — repartitioning the raw occurrences by doc_id
    // instead would ship every occurrence unaggregated (more bytes).
    val db = grams.groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .repartition(col("doc_id"))
      .localCheckpoint() // feeds labels, features — one gram pass total
    val labels = db.groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n"))
      .select(col("doc_id"), col("n"),
        when(col("source").isin("src0", "src1"), 1.0).otherwise(0.0).as("y"))
      .localCheckpoint() // consumed by every gradient and the output join
    val nRel = labels.agg(count(lit(1)).as("nn"))
    val feats = db.join(labels.select("doc_id", "n"), Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
              r6(col("cnt").cast("double") / col("n")).as("x"))
      .localCheckpoint() // consumed by every gradient/margin pass
    // log-loss gradient at prediction relation p(doc_id, p): per-bucket and
    // bias components, decimal-folded, grid-pinned (t22's grad verbatim,
    // keyed on the hashed bucket instead of the dictionary-id bucket)
    def grad(p: DataFrame): (DataFrame, DataFrame) = {
      val r = p.join(labels.select("doc_id", "y"), Seq("doc_id"))
        .select(col("doc_id"), (col("p") - col("y")).as("r"))
      val gb = feats.join(r, Seq("doc_id"))
        .groupBy(col("bucket")).agg(sum((col("x") * col("r")).cast(DEC)).as("sd"))
        .crossJoin(broadcast(nRel))
        .select(col("bucket"), r6(col("sd").cast("double") / col("nn")).as("g"))
      val g0 = r.agg(sum(col("r").cast(DEC)).as("sd"))
        .crossJoin(broadcast(nRel))
        .select(r6(col("sd").cast("double") / col("nn")).as("g0"))
      (gb, g0)
    }
    // margins under the current model — shared by the per-iteration
    // sigmoid and the final scoring pass
    def margins(w: DataFrame, bias: DataFrame): DataFrame =
      feats.join(broadcast(w), Seq("bucket"))
        .groupBy(col("doc_id")).agg(sum((col("x") * col("w")).cast(DEC)).as("sd"))
        .crossJoin(broadcast(bias))
        .select(col("doc_id"), r6(col("sd").cast("double") + col("bias")).as("m"))
    // WEIGHTS + BIAS in ONE checkpointed ≤257-row relation per iteration:
    // checkpointing w and bias separately costs two eager job barriers per
    // iteration, whose scheduling floor, not data, dominates at bench SF
    // (32- and 8-core times match). The fused relation
    // tags the bias row with a NULL bucket (a weight row's bucket is a
    // prefix of md5 of a non-null gram, never NULL); one barrier per iteration
    // computes both branches inside one job. The per-iteration bias
    // checkpoint REASON is unchanged (un-checkpointed, bias_i's lineage
    // embeds g0_1..g0_i — quadratic doc passes); the arithmetic is
    // unchanged (identity transform, same r6 steps).
    def fuseWb(wNext: DataFrame, biasNext: DataFrame): DataFrame =
      graft.plans.BroadcastContract.boundedCheckpoint(
        wNext.unionByName(biasNext.select(
          lit(null).cast("string").as("bucket"), col("bias").as("w"))),
        "c14 weights+bias: ≤257 rows by construction (256 hashed buckets + 1 bias)")
    def wOf(wb: DataFrame): DataFrame = wb.filter(col("bucket").isNotNull)
    def biasOf(wb: DataFrame): DataFrame =
      wb.filter(col("bucket").isNull).select(col("w").as("bias"))
    // iteration 1: w = 0 ⇒ p ≡ 0.5 exactly (no transcendental)
    val (g1, g01) = grad(labels.select(col("doc_id"), lit(0.5).as("p")))
    var wb = fuseWb(
      g1.select(col("bucket"), r6(-eta * col("g")).as("w")),
      g01.select(r6(-eta * col("g0")).as("bias")))
    // iterations 2..QualityGdIters: sigmoid under the current model
    // (pinned to the grid), gradient, step — each iteration is one
    // (doc,bucket) agg pass; checkpoints keep the lineage flat
    for (_ <- 2 to QualityGdIters) {
      val p = margins(wOf(wb), biasOf(wb))
        .select(col("doc_id"), r6(lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p"))
        .localCheckpoint()
      val (gi, g0i) = grad(p)
      wb = fuseWb(
        wOf(wb).join(gi, Seq("bucket"))
          .select(col("bucket"), r6(col("w") - eta * col("g")).as("w")),
        biasOf(wb).crossJoin(g0i)
          .select(r6(col("bias") - eta * col("g0")).as("bias")))
    }
    val w = wOf(wb)
    val bias = biasOf(wb)
    // score = the final MARGIN; si = its 1e-6 grid point
    val score = margins(w, bias)
      .select(col("doc_id"), col("m").as("score"))
      .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
      .localCheckpoint() // consumed by the histogram and the output
    // exact top-K threshold τ by TWO-LEVEL selection (t6's decile shape):
    // the score grid is only practically small — in the worst case it has
    // one point per doc, so a global window over it is corpus-bound. The
    // sigmoid of the margin gives a STRUCTURALLY bounded monotone coarse
    // key (bkt = ⌊100·σ(si/1e6)⌋ ∈ [0,100]); the one unpartitioned window
    // runs over the ≤101-row coarse relation, the per-grid-point pass is
    // PARTITIONED by the single crossing bucket, and τ is identical to
    // the single-window form (the crossing grid point lives in the
    // crossing bucket). The oracle keeps the plain one-window spelling —
    // same τ, different plan. Worst-case honesty: if margins concentrate
    // into ONE sigmoid bucket (exactly the η ≥ 128 saturation regime the
    // sweep recorded), the crossing bucket holds the whole grid and the
    // partitionBy("bkt") pass degrades to a single corpus-bound-grid
    // partition — the decomposition bounds the TYPICAL case, not the
    // adversarial one; a hard bound would coarsen again on more sigmoid
    // digits inside the crossing bucket (not done: the trained margins
    // this gate ships are non-degenerate by the η sweep's own selection,
    // and the skew case is the degenerate model we rejected).
    val hist = score.groupBy(col("si")).agg(count(lit(1)).as("c"))
      .withColumn("bkt",
        floor(lit(100.0) / (lit(1.0) + exp(-col("si").cast("double") / lit(1000000.0))))
          .cast("long"))
    val kRel = nRel.select(expr("(nn + 1) div 2").as("k"))
    val coarse = hist.groupBy(col("bkt")).agg(sum(col("c")).as("bc"))
      .withColumn("above", coalesce(sum(col("bc")).over(
        Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val bSel = coarse.crossJoin(broadcast(kRel))
      .filter(col("above") < col("k") && col("above") + col("bc") >= col("k"))
      .select(col("bkt"), col("above"), col("k"))
    val tau = hist.join(broadcast(bSel), Seq("bkt"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("bkt")).orderBy(col("si").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("above") + col("cum") >= col("k"))
      .agg(max(col("si")).as("tau"))
    (labels, score, w, bias, tau)
  }

  /** Oracle: every gradient iteration, the final margin pass, and the
    * histogram threshold unrolled as MATERIALIZED CTEs — the iteration
    * chain is GENERATED by the same loop bounds the Spark chain runs
    * ([[QualityGdIters]]/[[QualityGdEta]]), so trainer and oracle cannot
    * disagree on the schedule (t22's pattern on t28's feature CTEs,
    * s4Sql's generated-rounds discipline). */
  val c14Sql: String = {
    // ::VARCHAR::DOUBLE on the decimal sums: DuckDB's direct DECIMAL→DOUBLE
    // conversion is not correctly rounded (t22Sql's scaladoc has the
    // worked boundary case); the VARCHAR hop matches Spark's
    // BigDecimal.doubleValue exactly. Same generated spelling as t22Sql.
    val R6 = (e: String) => s"floor(($e) * 1000000.0 + 0.5) / 1000000.0"
    val eta = QualityGdEta
    // iteration i ≥ 2: sigmoid under w{i-1}/b{i-1}, gradient, step
    def iterCtes(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT doc_id, ${R6("1.0 / (1.0 + exp(-m))")} AS p FROM (
         |    SELECT f.doc_id,
         |      ${R6(s"sum((f.x * w.w)::DECIMAL(30,20))::VARCHAR::DOUBLE + (SELECT bias FROM b${i - 1})")} AS m
         |    FROM feats f JOIN w${i - 1} w USING (bucket) GROUP BY 1)
         |), g$i AS MATERIALIZED (
         |  SELECT f.bucket, ${R6("sum((f.x * (p.p - l.y))::DECIMAL(30,20))::VARCHAR::DOUBLE / (SELECT nn FROM nrel)")} AS g
         |  FROM feats f JOIN p$i p USING (doc_id) JOIN labels l USING (doc_id)
         |  GROUP BY 1
         |), gb$i AS MATERIALIZED (
         |  SELECT ${R6("sum((p.p - l.y)::DECIMAL(30,20))::VARCHAR::DOUBLE / (SELECT nn FROM nrel)")} AS g0
         |  FROM p$i p JOIN labels l USING (doc_id)
         |), w$i AS MATERIALIZED (
         |  SELECT w.bucket, ${R6(s"w.w - $eta * g.g")} AS w
         |  FROM w${i - 1} w JOIN g$i g USING (bucket)
         |), b$i AS MATERIALIZED (
         |  SELECT ${R6(s"(SELECT bias FROM b${i - 1}) - $eta * (SELECT g0 FROM gb$i)")} AS bias
         |)""".stripMargin
    val iters = (2 to QualityGdIters).map(iterCtes).mkString(",\n")
    val last = QualityGdIters
    s"""WITH sp AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents
       |), g AS (
       |  SELECT doc_id, source, unnest(
       |    list_concat(sp, list_transform(range(2, len(sp) + 1),
       |                                   i -> sp[i-1] || ' ' || sp[i]))) AS gram
       |  FROM sp
       |), db AS MATERIALIZED (
       |  SELECT doc_id, source, substr(md5(gram), 1, 2) AS bucket,
       |         count(*)::BIGINT AS cnt
       |  FROM g GROUP BY 1, 2, 3
       |), labels AS MATERIALIZED (
       |  SELECT doc_id, sum(cnt)::BIGINT AS n,
       |    CASE WHEN source IN ('src0', 'src1') THEN 1.0 ELSE 0.0 END AS y
       |  FROM db GROUP BY doc_id, source
       |), nrel AS (SELECT count(*)::BIGINT AS nn FROM labels),
       |feats AS MATERIALIZED (
       |  SELECT d.doc_id, d.bucket, ${R6("d.cnt::DOUBLE / l.n")} AS x
       |  FROM db d JOIN labels l USING (doc_id)
       |), g1 AS (
       |  SELECT f.bucket, ${R6("sum((f.x * (0.5 - l.y))::DECIMAL(30,20))::VARCHAR::DOUBLE / (SELECT nn FROM nrel)")} AS g
       |  FROM feats f JOIN labels l USING (doc_id) GROUP BY 1
       |), w1 AS MATERIALIZED (
       |  SELECT bucket, ${R6(s"-$eta * g")} AS w FROM g1
       |), b1 AS MATERIALIZED (
       |  SELECT ${R6(s"-$eta * (sum((0.5 - y)::DECIMAL(30,20))::VARCHAR::DOUBLE / (SELECT nn FROM nrel))")} AS bias
       |  FROM labels
       |),
       |$iters,
       |sc AS MATERIALIZED (
       |  SELECT f.doc_id,
       |    ${R6(s"sum((f.x * w.w)::DECIMAL(30,20))::VARCHAR::DOUBLE + (SELECT bias FROM b$last)")} AS score
       |  FROM feats f JOIN w$last w USING (bucket) GROUP BY 1
       |), si AS MATERIALIZED (
       |  SELECT doc_id, score, floor(score * 1000000.0 + 0.5)::BIGINT AS si FROM sc
       |), hist AS (SELECT si, count(*)::BIGINT AS c FROM si GROUP BY 1),
       |cum AS (
       |  SELECT si, sum(c) OVER (ORDER BY si DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
       |  FROM hist
       |), tau AS (
       |  SELECT max(si) AS tau FROM cum
       |  WHERE cum >= (SELECT (nn + 1) // 2 FROM nrel)
       |)
       |SELECT s.doc_id, (l.y = 1.0) AS trusted, s.score,
       |       (s.si >= (SELECT tau FROM tau)) AS keep
       |FROM si s JOIN labels l USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }

  /** C14's MEASURED comparison row — the trained gate vs t2's heuristic
    * gate (quality ≥ 0.5, c1's exact convention) on the same corpus: keep
    * counts, keep-set overlap (Jaccard), and each keep-set's TRUSTED-slice
    * rate against the corpus base rate — the number that says whether the
    * trained gate actually concentrates target-like documents better than
    * the arithmetic heuristic. Stated honestly: the classifier is graded
    * on the signal it trained on (trusted-source membership, FineWeb-Edu's
    * own eval convention), and its keep budget is ⌈N/2⌉ by construction
    * while the heuristic keeps whatever clears its fixed threshold — the
    * rates compare gate QUALITY, the counts state the budgets. One
    * doc_id-keyed join of two already-computed projections + one global
    * aggregate; costs nothing beyond its inputs. */
  def c14_gate_compare(s: SparkSession, dir: String): DataFrame = {
    val clf = c14_quality_classifier(s, dir)
      .select(col("doc_id"), col("trusted"), col("keep"))
    val heur = TextAnalysis.t2_quality_score(s, dir)
      .select(col("doc_id"), (col("quality") >= 0.5).as("hkeep"))
    clf.join(heur, Seq("doc_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("clf_kept"),
        sum(when(col("hkeep"), 1L).otherwise(0L)).as("heur_kept"),
        sum(when(col("keep") && col("hkeep"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("keep") && col("trusted"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("hkeep") && col("trusted"), 1L).otherwise(0L)).as("ht"),
        sum(when(col("trusted"), 1L).otherwise(0L)).as("nt"))
      .select(col("n_docs"), col("clf_kept"), col("heur_kept"), col("n_both"),
        QUtil.round4(col("n_both").cast("double") /
          (col("clf_kept") + col("heur_kept") - col("n_both"))).as("jaccard"),
        QUtil.round4(col("ct").cast("double") / col("clf_kept"))
          .as("clf_trusted_rate"),
        QUtil.round4(col("ht").cast("double") / col("heur_kept"))
          .as("heur_trusted_rate"),
        QUtil.round4(col("nt").cast("double") / col("n_docs"))
          .as("base_trusted_rate"))
  }

  /** Oracle: the c14 and t2 oracles verbatim as derived tables (c13's
    * WITH-inside-derived-table form), one aggregate over the join. */
  val c14CmpSql: String =
    s"""SELECT count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN c.keep THEN 1 ELSE 0 END)::BIGINT AS clf_kept,
       |  sum(CASE WHEN h.quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS heur_kept,
       |  sum(CASE WHEN c.keep AND h.quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_both,
       |  floor(sum(CASE WHEN c.keep AND h.quality >= 0.5 THEN 1 ELSE 0 END)::DOUBLE
       |    / (sum(CASE WHEN c.keep THEN 1 ELSE 0 END)
       |       + sum(CASE WHEN h.quality >= 0.5 THEN 1 ELSE 0 END)
       |       - sum(CASE WHEN c.keep AND h.quality >= 0.5 THEN 1 ELSE 0 END))
       |    * 10000.0 + 0.5) / 10000.0 AS jaccard,
       |  floor(sum(CASE WHEN c.keep AND c.trusted THEN 1 ELSE 0 END)::DOUBLE
       |    / sum(CASE WHEN c.keep THEN 1 ELSE 0 END) * 10000.0 + 0.5) / 10000.0
       |    AS clf_trusted_rate,
       |  floor(sum(CASE WHEN h.quality >= 0.5 AND c.trusted THEN 1 ELSE 0 END)::DOUBLE
       |    / sum(CASE WHEN h.quality >= 0.5 THEN 1 ELSE 0 END) * 10000.0 + 0.5) / 10000.0
       |    AS heur_trusted_rate,
       |  floor(sum(CASE WHEN c.trusted THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*) * 10000.0 + 0.5) / 10000.0 AS base_trusted_rate
       |FROM ($c14Sql) c JOIN (${TextAnalysis.t2Sql}) h ON h.doc_id = c.doc_id""".stripMargin

  /** The c11/c6 split hash as a reusable column: md5-salted first hex
    * char bucketed 'train'(≤ b) / 'val'(≤ d) / 'test'. */
  private[graft] def splitOf(anchor: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hx = substring(md5(concat(lit("split:"), anchor.cast("string"))), 1, 1)
    when(hx <= "b", "train").when(hx <= "d", "val").otherwise("test")
  }

  /** The SETTLED half of the c15 release increment, staged per session —
    * the two relations a production release pipeline keeps warm between
    * increments (d13's settled-band-table / m9's settled-index
    * discipline): the settled corpus's duplicate-CLUSTER table and its
    * shipped RELEASE MANIFEST (c13's relation computed over the settled
    * corpus only, against the FROZEN eval suite). Settled = the d12/d13
    * convention (`doc_id % 10 ≠ 0`); the settled cluster table derives
    * from the SHARED staged pair relation filtered to settled×settled
    * pairs — valid because MinHash banding is per-document, so the
    * settled subset's banded candidates are exactly the full pair table's
    * both-ends-settled rows. */
  private[graft] def c15SettledIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    QUtil.stage(s, ("c15Settled", dir)) {
      // the settled-cluster fixpoint (d3 pairs + min-label rounds) and the
      // frozen-eval contaminated-id staging are independent eager chains —
      // overlap them; m0 below consumes both
      val (sClusters, _) = QUtil.par2(s)(
        {
          val sPairs = Dedup.d3Pairs(s, dir)
            .filter(col("jaccard") >= 0.5 &&
                    col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
            .select(col("doc_a"), col("doc_b"))
          Dedup.minLabelComponents(sPairs)
            .select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
            .localCheckpoint()
        },
        TextAnalysis.t14ContaminatedIds(s, dir))
      val keepers = Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
                size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(sClusters, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      val lang = TextAnalysis.t3_lang_id(s, dir)
        .select(col("doc_id"), col("predicted"))
      val quality = TextAnalysis.t2_quality_score(s, dir)
        .select(col("doc_id"), col("quality"))
      // frozen eval artifact: contamination graded against the FULL eval
      // suite (t14's n ≥ 2 contract) — the eval set does not grow with the
      // crawl, so settled and combined manifests share one gram table
      val contaminated = TextAnalysis.t14ContaminatedIds(s, dir)
      val m0 = keepers
        .join(lang, Seq("doc_id")).join(quality, Seq("doc_id"))
        .filter(col("predicted") === "en" && col("quality") >= 0.5 &&
                col("doc_id") % 100 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("predicted").as("lang"), col("quality"),
                col("n_tokens"), splitOf(col("doc_id")).as("split"))
        .localCheckpoint()
      (sClusters, m0)
    }

  /** C15: the RELEASE-MANIFEST INCREMENT — the settled-vs-delta shape
    * (text d12/d13, postings t30, vectors s18/x34, media m9) applied to
    * the release relation itself, closing the c-family's increment story:
    * a production release pipeline does not
    * recompute c13 from scratch when a crawl increment arrives — it folds
    * the increment into the shipped manifest and publishes the DELTA
    * LEDGER: one row per manifest CHANGE.
    *
    *   - `add`: a delta document that enters the manifest — it is the
    *     representative of its merged duplicate component (or unclustered)
    *     and passes every c13 gate (t3 'en', t2 quality ≥ 0.5, not an
    *     eval doc, not contaminated against the frozen eval grams);
    *   - `retire`: a SETTLED manifest row displaced by the increment — a
    *     delta doc with a smaller id joined its cluster (or bridged it to
    *     a lower-anchored cluster), so the settled doc is no longer its
    *     component's representative. The row carries c12's machinery:
    *     `split_prev` (where the content was released), `split_new`
    *     (where its merged anchor now lives), and `frozen_eval_leak` —
    *     the one transition (test → train) that invalidates frozen eval
    *     history;
    *   - `tok_delta`: ±n_tokens, the per-row token-budget consequence
    *     ([[c15_budget_delta]] is the per-split rollup).
    *
    * MOVED rows cannot exist in the manifest diff — every manifest row is
    * its own anchor (c1 keeps representatives only), so a surviving row's
    * split never changes and the fold identity is exact:
    * `M0 − retires + adds = M1` (spec-pinned against
    * [[c13_release_manifest]] on the real tables).
    *
    * Scale shape (the O(delta + affected) contract, spec-pinned): the
    * settled manifest and cluster table are STAGED artifacts
    * ([[c15SettledIndex]]) — settled×settled work never re-runs. The
    * fold touches (a) delta-incident verified pairs (the banded probe of
    * the settled LSH index — expressed as the both-ends filter on the
    * shared staged pair relation, plan-identical because banding is
    * per-document), (b) the members of settled clusters ADJACENT to a
    * delta doc (one cluster-keyed equi-join whose build side is
    * delta-bounded), and (c) min-label components over that merged
    * subgraph only — unaffected settled docs never enter any join. Gates
    * on delta docs are per-doc projections behind a pushed `% 10`
    * filter. Nothing recomputes with corpus size; everything scales with
    * the increment and the clusters it touches. */
  def c15_manifest_increment(s: SparkSession, dir: String): DataFrame = {
    val (sClusters, m0) = c15SettledIndex(s, dir)
    val deltaPairs = Dedup.d3Pairs(s, dir)
      .filter(col("jaccard") >= 0.5 &&
              (col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0))
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // the delta probe result — consumed twice below
    val endpoints = deltaPairs.select(col("doc_a").as("doc_id"))
      .unionByName(deltaPairs.select(col("doc_b").as("doc_id")))
      .filter(col("doc_id") % 10 =!= 0).distinct()
    val affected = endpoints.join(sClusters, Seq("doc_id"))
      .select(col("cluster_id")).distinct()
    // star edges: member → settled anchor, affected clusters only —
    // connectivity-equivalent to the settled pair set within them
    val starEdges = sClusters.join(affected, Seq("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val merged = Dedup.minLabelComponents(deltaPairs.unionByName(starEdges))
      .select(col("n").as("doc_id"), col("lbl").as("anchor"))
    val deltaDocs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val lang = TextAnalysis.t3_lang_id(s, dir)
      .select(col("doc_id"), col("predicted"))
    val quality = TextAnalysis.t2_quality_score(s, dir)
      .select(col("doc_id"), col("quality"))
    val contaminated = TextAnalysis.t14ContaminatedIds(s, dir)
    val adds = deltaDocs
      .join(merged, Seq("doc_id"), "left")
      .filter(col("anchor").isNull || col("anchor") === col("doc_id"))
      .join(lang, Seq("doc_id")).join(quality, Seq("doc_id"))
      .filter(col("predicted") === "en" && col("quality") >= 0.5 &&
              col("doc_id") % 100 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("add").as("action"),
              col("predicted").as("lang"), col("quality"), col("n_tokens"),
              col("doc_id").as("anchor"),
              lit(null).cast("string").as("split_prev"),
              splitOf(col("doc_id")).as("split_new"),
              lit(false).as("frozen_eval_leak"),
              col("n_tokens").as("tok_delta"))
    val retires = m0.join(merged, Seq("doc_id"))
      .filter(col("anchor") =!= col("doc_id"))
      .select(col("doc_id"), lit("retire").as("action"), col("lang"),
              col("quality"), col("n_tokens"), col("anchor"),
              col("split").as("split_prev"),
              splitOf(col("anchor")).as("split_new"),
              (col("split") === "test" && splitOf(col("anchor")) === "train")
                .as("frozen_eval_leak"),
              (-col("n_tokens")).as("tok_delta"))
    adds.unionByName(retires).orderBy("doc_id")
  }

  /** Oracle: the honest full-recompute diff — the COMBINED manifest is
    * c13's oracle verbatim, the SETTLED manifest is the same stage chain
    * over settled docs (settled components via the d8-shape recursive
    * reachability restricted to both-ends-settled pairs; gates and the
    * contamination table reused VERBATIM against the frozen full eval
    * suite), retires carry c11's combined split. The Spark side computes
    * the same relation incrementally; the driver's hash equality IS the
    * proof the O(delta) fold equals the batch diff. */
  /** The SETTLED-MANIFEST CTE chain (scomp → q/p/cont → m0), shared
    * VERBATIM by the c15 and c19 oracles — the settled world both
    * increments diff against is spelled once, so the two ledgers cannot
    * disagree on what "shipped" means. */
  private val settledManifestCtes: String = {
    val splitCase = (k: String) =>
      s"""CASE WHEN substring(md5('split:' || $k::VARCHAR), 1, 1) <= 'b' THEN 'train'
         |         WHEN substring(md5('split:' || $k::VARCHAR), 1, 1) <= 'd' THEN 'val'
         |         ELSE 'test' END""".stripMargin
    s"""scomp AS (
       |  WITH RECURSIVE sprs AS (
       |${Dedup.d3SqlBody}
       |  ), sed AS (
       |    SELECT doc_a AS u, doc_b AS v FROM sprs
       |    WHERE jaccard >= 0.5 AND doc_a % 10 <> 0 AND doc_b % 10 <> 0
       |    UNION
       |    SELECT doc_b, doc_a FROM sprs
       |    WHERE jaccard >= 0.5 AND doc_a % 10 <> 0 AND doc_b % 10 <> 0
       |  ), sreach(src, node) AS (
       |    SELECT u, u FROM sed
       |    UNION
       |    SELECT r.src, e.v FROM sreach r JOIN sed e ON r.node = e.u
       |  )
       |  SELECT src AS doc_id, min(node) AS cluster_id FROM sreach GROUP BY 1
       |), q AS (
       |${TextAnalysis.t2Sql}
       |), p AS (
       |${TextAnalysis.t3Sql}
       |), cont AS (
       |${TextAnalysis.t14Sql}
       |), m0 AS MATERIALIZED (
       |  SELECT d.doc_id, p.predicted AS lang, q.quality,
       |         len(string_split(d.text, ' '))::BIGINT AS n_tokens,
       |         ${splitCase("d.doc_id")} AS split
       |  FROM documents d
       |  LEFT JOIN scomp sc ON sc.doc_id = d.doc_id
       |  JOIN p ON p.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  WHERE d.doc_id % 10 <> 0
       |    AND (sc.doc_id IS NULL OR sc.cluster_id = d.doc_id)
       |    AND p.predicted = 'en' AND q.quality >= 0.5
       |    AND d.doc_id % 100 <> 0
       |    AND NOT EXISTS (SELECT 1 FROM cont
       |                    WHERE cont.train_doc = d.doc_id AND cont.n_shared >= 2)
       |)""".stripMargin
  }

  val c15Sql: String =
    s"""WITH m1 AS MATERIALIZED (
       |$c13Sql
       |), $settledManifestCtes, sp11 AS MATERIALIZED (
       |$c11Sql
       |)
       |SELECT m1.doc_id, 'add' AS action, m1.lang, m1.quality, m1.n_tokens,
       |       m1.anchor, NULL AS split_prev, m1.split AS split_new,
       |       false AS frozen_eval_leak, m1.n_tokens AS tok_delta
       |FROM m1
       |WHERE NOT EXISTS (SELECT 1 FROM m0 WHERE m0.doc_id = m1.doc_id)
       |UNION ALL
       |SELECT m0.doc_id, 'retire' AS action, m0.lang, m0.quality, m0.n_tokens,
       |       s.anchor, m0.split AS split_prev, s.split AS split_new,
       |       (m0.split = 'test' AND s.split = 'train') AS frozen_eval_leak,
       |       -m0.n_tokens AS tok_delta
       |FROM m0 JOIN sp11 s ON s.doc_id = m0.doc_id
       |WHERE NOT EXISTS (SELECT 1 FROM m1 WHERE m1.doc_id = m0.doc_id)
       |ORDER BY doc_id""".stripMargin

  /** C15's per-split TOKEN-BUDGET rollup — the number a release review
    * reads first: how many training/val/test tokens did this increment
    * add or remove (adds charge `split_new`, retires refund
    * `split_prev` — where the content was previously counted). Bounded
    * by the 3-row split inventory at any scale; costs one aggregate over
    * the ledger. The per-split identity `Σ m1 − Σ m0 = tok_delta` is
    * spec-pinned. */
  def c15_budget_delta(s: SparkSession, dir: String): DataFrame =
    c15_manifest_increment(s, dir)
      .withColumn("split", when(col("action") === "add", col("split_new"))
                             .otherwise(col("split_prev")))
      .groupBy(col("split"))
      .agg(sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_add"),
           sum(when(col("action") === "retire", 1L).otherwise(0L)).as("n_retire"),
           sum(col("tok_delta")).as("tok_delta"))
      .orderBy("split")

  /** Oracle: one aggregate over the c15 oracle as a derived table. */
  val c15BudgetSql: String =
    s"""SELECT CASE WHEN action = 'add' THEN split_new ELSE split_prev END AS split,
       |  sum(CASE WHEN action = 'add' THEN 1 ELSE 0 END)::BIGINT AS n_add,
       |  sum(CASE WHEN action = 'retire' THEN 1 ELSE 0 END)::BIGINT AS n_retire,
       |  sum(tok_delta)::BIGINT AS tok_delta
       |FROM (
       |$c15Sql
       |) GROUP BY 1 ORDER BY 1""".stripMargin

  /** C16: the GATED release manifest — the c-family's funnel completed as
    * one shippable relation: c13's release manifest (deduplicated,
    * language/quality-gated, decontaminated, leak-free-split) further
    * gated by c14's TRAINED classifier keep-set — the DCLM / FineWeb-Edu
    * funnel slot that c14's spec pinned, now code. Each surviving row
    * carries the manifest columns plus the model score (the column a
    * curriculum sampler orders by). One doc_id equi-join of two
    * already-oracled relations — co-partitioned on the spine, costing
    * nothing beyond its inputs at any scale; the trained gate's budget is
    * ⌈N/2⌉ over the WHOLE corpus (c14's contract), so the kept manifest
    * fraction is a measured outcome, not a parameter. */
  def c16_gated_manifest(s: SparkSession, dir: String): DataFrame = {
    // the c13 chain's eager staging (d8 clusters, t14 contaminated ids,
    // d3 pairs) and the c14 trainer's GD barrier sequence are INDEPENDENT
    // — build both halves concurrently (QUtil.par2) so one chain's
    // scheduling gaps run the other's jobs.
    // Join + output identical to the sequential spelling.
    val (m, g) = QUtil.par2(s)(
      c13_release_manifest(s, dir),
      c14_quality_classifier(s, dir)
        .filter(col("keep")).select(col("doc_id"), col("score")))
    m.join(g, Seq("doc_id")).orderBy("doc_id")
  }

  /** Oracle: the c13 and c14 oracles verbatim as derived tables, joined
    * on the doc spine with the keep gate applied. */
  val c16Sql: String =
    s"""SELECT m.doc_id, m.lang, m.quality, m.n_tokens, m.anchor, m.split,
       |       g.score
       |FROM ($c13Sql) m
       |JOIN ($c14Sql) g ON g.doc_id = m.doc_id AND g.keep
       |ORDER BY m.doc_id""".stripMargin

  /** C17: the CURRICULUM — deterministic TRAINING-ORDER materialization
    * over [[c16_gated_manifest]], the one standard stage between "manifest
    * shipped" and "training run starts" (FineWeb-Edu / DoReMi-style staged
    * training): the gated manifest's TRAIN split is stratified into 10
    * stages by classifier-score decile and each stage is internally
    * shuffled by a deterministic hash, emitting
    * `(doc_id, stage, rank_in_stage, n_tokens, score)` — the exact read
    * order a data loader consumes. Stage index ASCENDS with score, so a
    * run that consumes stages in order anneals onto the highest-scoring
    * decile last (the midtraining-anneal convention); within a stage the
    * order is c5's portable LCG hash of doc_id (a curriculum must not
    * replay crawl order — doc_id correlates with fetch time — and must
    * not use rand(), or reruns and the oracle diverge).
    *
    * NO GLOBAL SORT at any step (the t6/c14 two-level discipline, both
    * ranks):
    *   - the score-decile rank: the 1e-6 score grid is coarsened by the
    *     STRUCTURALLY bounded monotone key ⌊100·σ(si/1e6)⌋ ∈ [0,100];
    *     per-bucket counts prefix-sum over that ≤101-row relation (the
    *     only unpartitioned window), and the per-doc rank is off +
    *     row_number PARTITIONED by bucket — global (si, doc_id) order
    *     exactly, because the coarse key is a monotone function of si
    *     (c14's τ-selection argument, reused for full ranking);
    *   - the within-stage rank: the LCG hash h ∈ [0, 2³¹) is coarsened by
    *     its top 8 bits (⌊h/2²³⌋ ∈ [0,256) — monotone in h, so within-
    *     stage (h, doc_id) order exactly); per-(stage, bucket) counts
    *     prefix-sum over the bounded ≤10×256-row relation (window
    *     partitioned by stage), and the per-doc rank is off + row_number
    *     PARTITIONED by (stage, bucket).
    * The oracle keeps the plain one-window spellings — same ranks,
    * different plan; the driver's hash equality is the decomposition
    * proof (the c14 precedent).
    *
    * Scale shape: c16's inputs are the only corpus passes; everything
    * added here is two bounded-relation prefix sums, two partitioned
    * windows, and one bounded broadcast join each — nothing new grows
    * with the corpus. The per-stage token budgets PARTITION the gated
    * manifest's train-split token budget exactly (Σ stage tokens = c16
    * train tokens, ranks contiguous 1..n per stage) — spec-pinned, the
    * budget-identity discipline c15 established. */
  def c17_curriculum(s: SparkSession, dir: String): DataFrame =
    // the presentation orderBy lives HERE, not in curriculumOver:
    // curriculumOver's output is also STAGING input — c18's packing and
    // c19Settled's checkpoint neither need nor keep a global order, and
    // materializing a sorted plan would pay a full sort exchange for
    // nothing (an orderBy used only to make output deterministic is an
    // accidental shuffle).
    c17CurriculumUnordered(s, dir).orderBy("doc_id")

  /** The c17 relation WITHOUT the presentation sort — what every staging
    * consumer (c18's packing, c17_stage_budget's rollup, c19_fold_gate's
    * checkpointed chain) reads, so none of them materializes a global
    * sort it immediately destroys. */
  private[graft] def c17CurriculumUnordered(s: SparkSession, dir: String): DataFrame =
    curriculumOver(c16_gated_manifest(s, dir)
      .filter(col("split") === "train")
      .select(col("doc_id"), col("n_tokens"), col("score")))

  /** C17's staging + ranking over ANY gated train universe
    * `(doc_id, n_tokens, score)` — one code path for the shipped
    * curriculum and c19's settled-world curriculum (the packShards
    * discipline). Emits (doc_id, stage, rank_in_stage, n_tokens, score)
    * in the two-level no-global-sort decomposition c17's scaladoc
    * derives. */
  private[graft] def curriculumOver(universe: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = universe
      .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
      .withColumn("bkt",
        floor(lit(100.0) / (lit(1.0) + exp(-col("si").cast("double") / lit(1000000.0))))
          .cast("long"))
      .withColumn("h", pmod(col("doc_id") * lit(1103515245L) + lit(12345L),
                            lit(2147483648L)))
      // materialized: m fans out to THREE consumers
      // below (sOff, total, staged) and DataFrames do not share subplans —
      // un-checkpointed, the whole upstream universe chain (for c17: the
      // c16 gated-manifest join tree) executed once PER CONSUMER. One
      // checkpoint makes it one pass (before/after numbers in
      // OPTIMIZATION_r15.md).
      .localCheckpoint()
    // level 1: exact global score rank via the bounded sigmoid buckets
    val sOff = m.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bkt"), col("off"))
    val total = m.agg(count(lit(1)).as("n"))
    val staged = m.join(broadcast(sOff), Seq("bkt"))
      .withColumn("rnk", col("off") + row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("si"), col("doc_id"))).cast("long"))
      .crossJoin(broadcast(total))
      .withColumn("stage", expr("((rnk - 1) * 10) div n"))
      .select(col("doc_id"), col("stage"), col("h"), col("n_tokens"), col("score"))
    rankWithinStage(staged)
      .select(col("doc_id"), col("stage"), col("rank_in_stage"),
              col("n_tokens"), col("score"))
  }

  /** C17's level-2 within-stage rank, factored (one code path for the
    * curriculum and c19's affected-stage re-rank — the s25/c14 one-body
    * discipline): rank in deterministic-shuffle order via the bounded
    * (stage × 256) top-8-bit hash buckets — the LCG hash h ∈ [0, 2³¹) is
    * coarsened by ⌊h/2²³⌋ (monotone in h, so within-stage (h, doc_id)
    * order exactly); per-(stage, bucket) counts prefix-sum in a window
    * PARTITIONED by stage over the bounded ≤|stages|×256-row relation,
    * and the per-doc rank is off + row_number PARTITIONED by
    * (stage, bucket). Input must carry (doc_id, stage, h); emits the
    * input columns (minus h's bucket scaffolding) plus `rank_in_stage`. */
  private[graft] def rankWithinStage(staged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized: hb feeds both the per-(stage, hbkt)
    // count relation and the ranking join below — un-checkpointed, the
    // staged input's window/join chain executed twice per call.
    val hb = staged.withColumn("hbkt", floor(col("h") / lit(8388608L)).cast("long"))
      .localCheckpoint()
    val hOff = hb.groupBy(col("stage"), col("hbkt")).agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(
        Window.partitionBy(col("stage")).orderBy(col("hbkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stage"), col("hbkt"), col("boff"))
    hb.join(broadcast(hOff), Seq("stage", "hbkt"))
      .withColumn("rank_in_stage", col("boff") + row_number().over(
        Window.partitionBy(col("stage"), col("hbkt"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .drop("hbkt", "boff")
  }

  /** Oracle: c16's oracle as a derived table; both ranks in the plain
    * one-window spelling (global ORDER BY (si, doc_id); per-stage ORDER
    * BY (h, doc_id)) — same relation, corpus-bound plan (the c14
    * precedent: hash equality proves the two-level decomposition). */
  val c17Sql: String =
    s"""WITH cm AS MATERIALIZED (
       |  SELECT doc_id, n_tokens, score,
       |         floor(score * 1000000.0 + 0.5)::BIGINT AS si,
       |         ((doc_id * 1103515245 + 12345) % 2147483648 + 2147483648)
       |           % 2147483648 AS h
       |  FROM ($c16Sql) WHERE split = 'train'
       |), r AS (
       |  SELECT *, row_number() OVER (ORDER BY si, doc_id) AS rnk,
       |         count(*) OVER () AS n
       |  FROM cm
       |), st AS (
       |  SELECT doc_id, n_tokens, score, h,
       |         (((rnk - 1) * 10) // n)::BIGINT AS stage
       |  FROM r
       |)
       |SELECT doc_id, stage,
       |  row_number() OVER (PARTITION BY stage ORDER BY h, doc_id)::BIGINT
       |    AS rank_in_stage,
       |  n_tokens, score
       |FROM st ORDER BY doc_id""".stripMargin

  /** C17's per-stage TOKEN-BUDGET rollup — the curriculum's schedule
    * card: docs, tokens, and mean classifier score per stage (what a
    * training plan allocates optimizer steps against). Bounded by the
    * 10-row stage inventory at any scale; one aggregate over the
    * curriculum. The partition identity (Σ stage_tokens = c16 train
    * tokens) is spec-pinned. */
  def c17_stage_budget(s: SparkSession, dir: String): DataFrame =
    c17CurriculumUnordered(s, dir)
      .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("stage_tokens"),
           QUtil.round4(sum(col("si")).cast("double") / 1000000.0 / count(lit(1)))
             .as("mean_score"))
      .orderBy("stage")

  /** Oracle: one aggregate over the c17 oracle as a derived table, the
    * same exact-BIGINT micro-grid mean. */
  val c17BudgetSql: String =
    s"""SELECT stage, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS stage_tokens,
       |  floor(sum(floor(score * 1000000.0 + 0.5)::BIGINT)::DOUBLE / 1000000.0
       |        / count(*) * 10000.0 + 0.5) / 10000.0 AS mean_score
       |FROM (
       |$c17Sql
       |) GROUP BY 1 ORDER BY 1""".stripMargin

  /** C18: the curriculum SHARD MANIFEST — t19's concat-and-chunk packing
    * applied in TRAINING ORDER, the terminal artifact of the release
    * funnel: [[c17_curriculum]]'s per-stage sequence laid end to end and
    * cut into fixed L = 128-token shards, emitting per (stage, shard) the
    * token fill, document count, and document-start count (where the
    * attention masks / EOD tokens go) — the shard map a trainer's data
    * loader reads stage by stage. Shards never cross stages: the anneal
    * boundary is a shard boundary by construction, so a stage can be
    * re-consumed or re-weighted without re-packing its neighbors. (x20 is
    * the ONLINE placement machinery of this shape — per-key running-offset
    * state at ingest; c18 is the batch manifest in curriculum order.)
    *
    * The load-bearing primitive is the per-doc token offset within its
    * stage — an exact prefix sum in rank order. No corpus-bound window
    * (t19's decomposition, keyed by the curriculum's own dense ranks):
    * running sums WITHIN ⌈rank/256⌉ buckets (windows partitioned by
    * (stage, bucket)), per-bucket totals prefix-summed in a window
    * partitioned by stage over the n/256-row bucket relation
    * ([[TextAnalysis.packBucketWidth]] — the declared scaling knob), the
    * bounded offset relation broadcast back. One shuffle for the final
    * per-shard aggregation; output is shard-manifest-sized, not
    * corpus-sized. Spec pins the per-stage fill identity: shard fills sum
    * to [[c17_stage_budget]]'s stage tokens, every non-terminal shard
    * full. */
  def c18_shard_manifest(s: SparkSession, dir: String): DataFrame =
    packShards(c17CurriculumUnordered(s, dir)
      .select(col("doc_id"), col("stage"), col("rank_in_stage"), col("n_tokens")))

  /** C18's packing, factored over ANY curriculum-shaped relation
    * `(doc_id, stage, rank_in_stage, n_tokens)` — one code path for the
    * shipped manifest, c19's affected-stage repack, and the
    * stage-isolation spec (which packs deliberately perturbed curricula
    * to pin that re-weighting one stage never changes another's rows).
    * Per-stage independence is BY CONSTRUCTION: every window below is
    * partitioned by stage, the offset relation is keyed by stage, and the
    * final aggregation groups by (stage, shard) — no cross-stage term
    * exists anywhere, which is the re-weight contract c18's scaladoc
    * states and QueriesSmokeSpec pins.
    *
    * INVARIANT: every input row must have `n_tokens ≥ 1`.
    * The chunk explosion below computes `sequence(off div 128,
    * (off+n_tokens−1) div 128)`; a zero-token doc sitting exactly on a
    * shard boundary would make the upper bound one LESS than the lower,
    * which Spark's `sequence` interprets as a descending step (TWO chunk
    * rows) while the oracle's `range(a, a)` is EMPTY — a silent hash
    * divergence. The invariant holds by construction today (every
    * tokenization in the repo is `size(split(text, ' '))` over non-null
    * text, which is ≥ 1 even for the empty string), so the guard lives
    * here as documentation: if a future tokenizer can yield 0 tokens,
    * filter those rows out BEFORE this call (and in [[c19PackCtes]] /
    * [[c18Sql]]'s `ch` CTEs) or the driver's hash gate trips
    * mysteriously. */
  private[graft] def packShards(curIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 128L
    val W = TextAnalysis.packBucketWidth
    // materialized: cur fans out to THREE consumers
    // (offsets, totals, the offset-attach + chunk explosion) — for c18 the
    // un-checkpointed input was the ENTIRE c16→c17 curriculum chain,
    // recomputed once per consumer (× the three-fold fan-out already
    // inside curriculumOver). One checkpoint, one pass.
    val cur = curIn
      .withColumn("rbkt", expr(s"(rank_in_stage - 1) div $W"))
      .localCheckpoint()
    val inBkt = Window.partitionBy(col("stage"), col("rbkt"))
      .orderBy(col("rank_in_stage"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktOff = Window.partitionBy(col("stage")).orderBy(col("rbkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cur.groupBy(col("stage"), col("rbkt"))
      .agg(sum(col("n_tokens")).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(bktOff), lit(0L)))
      .select(col("stage"), col("rbkt"), col("boff"))
    val totals = cur.groupBy(col("stage")).agg(sum(col("n_tokens")).as("total"))
    cur.withColumn("brun", coalesce(sum(col("n_tokens")).over(inBkt), lit(0L)))
      .join(broadcast(offsets), Seq("stage", "rbkt"))
      .withColumn("off", col("boff") + col("brun"))
      .select(col("stage"), col("off"), col("n_tokens"),
              explode(sequence(expr(s"off div $L"),
                               expr(s"(off + n_tokens - 1) div $L"))).as("shard"))
      .groupBy(col("stage"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(expr(s"off div $L") === col("shard"), 1L)
             .otherwise(0L)).as("n_starts"))
      .join(broadcast(totals), Seq("stage"))
      .select(col("stage"), col("shard"),
              least(lit(L), col("total") - col("shard") * L).as("n_tokens"),
              col("n_docs"), col("n_starts"))
      .orderBy("stage", "shard")
  }

  /** Oracle: the c17 oracle as a derived table, the offset in t19's plain
    * one-window spelling (partitioned by stage), the same chunk
    * explosion. */
  val c18Sql: String =
    s"""WITH cur AS MATERIALIZED (
       |$c17Sql
       |), o AS (
       |  SELECT doc_id, stage, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY stage ORDER BY rank_in_stage
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
       |  FROM cur
       |), t AS (SELECT stage, sum(n_tokens)::BIGINT AS total FROM cur GROUP BY 1),
       |ch AS (
       |  SELECT stage, off, n_tokens,
       |    unnest(range(off // 128, (off + n_tokens - 1) // 128 + 1)) AS shard
       |  FROM o
       |)
       |SELECT ch.stage, shard::BIGINT AS shard,
       |  least(128, t.total - shard * 128)::BIGINT AS n_tokens,
       |  count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN off // 128 = shard THEN 1 ELSE 0 END)::BIGINT AS n_starts
       |FROM ch JOIN t USING (stage)
       |GROUP BY ch.stage, shard, t.total ORDER BY 1, 2""".stripMargin

  /** The SETTLED TERMINAL ARTIFACTS staged per session — what a release
    * pipeline keeps warm between increments at the funnel's END (the
    * c15SettledIndex discipline extended to c17/c18, closing the one gap
    * where the settled-vs-delta story stopped): the shipped curriculum over
    * the settled gated train manifest (frozen c14 model — an increment
    * does NOT retrain the gate; model refresh is a separate release event,
    * the x39–x41 frozen-artifact convention), its score-grid histogram, its nine decile-boundary
    * positions, and its shard manifest. */
  private[graft] def c19Settled(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    QUtil.stage(s, ("c19Settled", dir)) {
      // the settled index chain and the GD trainer are independent eager
      // barrier chains — stage them concurrently
      val ((_, m0), (_, score, _, _, tau)) = QUtil.par2(s)(
        c15SettledIndex(s, dir), c14Model(s, dir))
      val u0 = m0.filter(col("split") === "train")
        .join(score.select(col("doc_id"), col("score"), col("si")), Seq("doc_id"))
        .crossJoin(broadcast(tau))
        .filter(col("si") >= col("tau"))
        .select(col("doc_id"), col("n_tokens"), col("score"))
      val cur0 = curriculumOver(u0)
        .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
        .localCheckpoint()
      // given cur0, the histogram→boundaries chain and the shard packing
      // are independent — overlap their barrier chains
      val ((hist0, b0), shards0) = QUtil.par2(s)(
        {
          val h = cur0.groupBy(col("si")).agg(count(lit(1)).as("c"))
            .localCheckpoint()
          (h, graft.plans.BroadcastContract.boundedCheckpoint(decileBounds(h),
            "c19 settled decile boundaries: ≤9 rows by construction"))
        },
        packShards(cur0.select(col("doc_id"), col("stage"),
          col("rank_in_stage"), col("n_tokens"))).localCheckpoint())
      (cur0, hist0, b0, shards0)
    }

  /** The nine DECILE-BOUNDARY POSITIONS of a curriculum universe, located
    * from its score-grid histogram alone — c14's two-level τ-selection
    * shape extended from one cut rank to all nine: stage(d) ≥ k iff
    * rnk(d) ≥ r_k = (k·n + 9) div 10 + 1 (the first rank of stage k under
    * stage = ((rnk−1)·10) div n), so each boundary is the position of the
    * doc AT rank r_k in (si, doc_id) order — (k, si_k, c_k) where si_k is
    * its grid point and c_k its 1-based doc_id-rank within the point.
    * Two-level: per-sigmoid-bucket counts prefix-summed in the one
    * unpartitioned window over the ≤101-row coarse relation; the per-grid-
    * point pass runs only over the ≤9 crossing buckets, PARTITIONED by k.
    * Boundaries whose rank exceeds the universe (n < 10) are absent —
    * every consumer treats an absent boundary as an unclearable one, so
    * the degenerate regime stays total. */
  private[graft] def decileBounds(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hb = hist.withColumn("bkt",
      floor(lit(100.0) / (lit(1.0) + exp(-col("si").cast("double") / lit(1000000.0))))
        .cast("long"))
    val nRel = hb.agg(sum(col("c")).as("n"))
    val kRel = hist.sparkSession.range(1, 10).toDF("k")
      .crossJoin(broadcast(nRel))
      .select(col("k"), expr("(k * n + 9) div 10 + 1").as("rk"))
    val coarse = hb.groupBy(col("bkt")).agg(sum(col("c")).as("bc"))
      .withColumn("bbelow", coalesce(sum(col("bc")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val kb = kRel.join(broadcast(coarse),
        col("bbelow") < col("rk") && col("bbelow") + col("bc") >= col("rk"))
      .select(col("k"), col("rk"), col("bkt"), col("bbelow"))
    hb.join(broadcast(kb), Seq("bkt"))
      .withColumn("cb", col("bbelow") + coalesce(sum(col("c")).over(
        Window.partitionBy(col("k")).orderBy(col("si"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cb") < col("rk") && col("cb") + col("c") >= col("rk"))
      .select(col("k"), col("si"), (col("rk") - col("cb")).as("ck"))
  }

  /** C19: the CURRICULUM INCREMENT — the settled-vs-delta discipline
    * (d12/d13, t30, s18, m9, c15) carried to the funnel's TERMINAL stage,
    * where it previously stopped: a manifest increment (c15's adds and
    * retires) no longer forces a c17 rebuild — the shipped curriculum is
    * maintained by a DELTA LEDGER of exactly the docs whose STAGE
    * changed, one row each:
    *
    *   - `enter`: a c15 add that lands in the train split and clears the
    *     FROZEN keep gate (si ≥ τ — the shipped model scores it; an
    *     increment never retrains, the x39–x41 convention), with its
    *     stage in the new universe;
    *   - `leave`: a c15 retire that was in the shipped curriculum, with
    *     the stage it vacates;
    *   - `move`: a SETTLED SURVIVOR whose decile changed — not because
    *     its score moved (frozen model: it cannot) but because the
    *     decile BOUNDARIES did (the increment shifts every rank).
    *
    * The load-bearing decomposition: a survivor's stage is
    * #{k : (si, grid-rank) ≥ boundary_k}, so stages change ONLY inside
    * the intervals swept by a moving boundary. The fold therefore never
    * ranks the corpus: (1) the new score-grid histogram is the staged
    * settled histogram plus the delta's ±counts — an O(grid + delta)
    * merge with no corpus pass; (2) the nine new boundary positions come
    * from [[decileBounds]]' bounded two-level pass over it; (3) the
    * CANDIDATE set is the survivors whose grid point lies inside some
    * [old_k, new_k] interval (a ≤9-row broadcast semi-join against the
    * staged curriculum scan — the touch set IS the boundary shift, plus
    * the delta itself), and only candidates ∪ enters are ranked within
    * their grid points (complete at every new-boundary grid point by
    * construction) and compared against the ≤9-row boundary broadcast.
    * Settled docs away from every boundary never enter any shuffle.
    *
    * Oracle: the honest full-recompute diff — BOTH curricula spelled with
    * the plain one-window global rank over their full universes, outer-
    * joined, changed rows only (the c15 precedent: the driver's hash
    * equality IS the proof that the O(delta + boundary-shift) fold equals
    * the batch diff, and doubles as the c14/c17 no-global-sort
    * decomposition proof on a second universe). Emits (doc_id, action,
    * stage_prev, stage_new, n_tokens, score), ordered by doc_id. */
  def c19_curriculum_delta(s: SparkSession, dir: String): DataFrame = {
    // the O(delta) manifest fold (consumed 3x below) and the settled
    // curriculum staging share c15SettledIndex (staged once per session);
    // their remaining barrier chains are independent — overlap them
    val (ledger, _) = QUtil.par2(s)(
      c15_manifest_increment(s, dir).localCheckpoint(),
      c19Settled(s, dir))
    c19CurriculumDeltaFrom(s, dir, ledger)
  }

  /** c19's ledger fold from a PRECOMPUTED c15 manifest ledger — factored
    * so the c20 release composite can thread ONE c15 fold through
    * the manifest rollup and the curriculum fold instead of running the
    * manifest increment twice. */
  private[graft] def c19CurriculumDeltaFrom(s: SparkSession, dir: String,
                                            ledger: DataFrame): DataFrame = {
    val (cur0, hist0, b0, _) = c19Settled(s, dir)
    val (_, score, _, _, tau) = c14Model(s, dir)
    val enters = ledger
      .filter(col("action") === "add" && col("split_new") === "train")
      .select(col("doc_id"), col("n_tokens"))
      .join(score.select(col("doc_id"), col("score"), col("si")), Seq("doc_id"))
      .crossJoin(broadcast(tau)).filter(col("si") >= col("tau"))
      .select(col("doc_id"), col("n_tokens"), col("score"), col("si"))
    val retireIds = ledger.filter(col("action") === "retire").select(col("doc_id"))
    val leaves = cur0.join(retireIds, Seq("doc_id"))
      .select(col("doc_id"), col("stage").as("stage_prev"), col("n_tokens"),
              col("score"), col("si"))
    c19Fold(cur0, hist0, b0, enters, leaves)
  }

  /** The c19 boundary-sweep fold CORE over explicit relations — the exact
    * dataflow c19's scaladoc derives, factored free of the table wiring so
    * `C19FoldPropertySpec` can drive it with randomized universes/deltas
    * against the plain recompute (the curriculumOver / packShards
    * one-body discipline). Inputs: the settled curriculum
    * `cur0` (doc_id, stage, n_tokens, score, si), its score-grid
    * histogram `hist0` (si, c), its boundary positions `b0` (k, si, ck —
    * [[decileBounds]] of hist0), the increment's `enters`
    * (doc_id, n_tokens, score, si — already keep-gated) and `leaves`
    * (doc_id, stage_prev, n_tokens, score, si — rows OF cur0). Emits the
    * (doc_id, action, stage_prev, stage_new, n_tokens, score) ledger. */
  private[graft] def c19Fold(cur0: DataFrame, hist0: DataFrame, b0: DataFrame,
                             enters: DataFrame, leaves: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val retireIds = leaves.select(col("doc_id"))
    // (1) merged score-grid histogram: staged + delta, no corpus pass
    val dh = enters.select(col("si"), lit(1L).as("d"))
      .unionByName(leaves.select(col("si"), lit(-1L).as("d")))
      .groupBy(col("si")).agg(sum(col("d")).as("d"))
    val hist1 = hist0.join(dh, Seq("si"), "full_outer")
      .select(col("si"),
              (coalesce(col("c"), lit(0L)) + coalesce(col("d"), lit(0L))).as("c"))
      .filter(col("c") > 0)
    // (2) the nine new boundary positions — bounded two-level pass
    // (boundedCheckpoint: the hint walk needs the ≤9-row evidence a plain
    // checkpoint's LogicalRDD would erase; consumed 2×)
    val b1 = graft.plans.BroadcastContract.boundedCheckpoint(
      decileBounds(hist1), "c19 new decile boundaries: ≤9 rows by construction")
    // (3) candidate intervals: where boundary k moved (a boundary absent
    // on one side is unclearable there — its interval is one-side-open)
    val ivals = b0.select(col("k"), col("si").as("si0"))
      .join(b1.select(col("k"), col("si").as("si1")), Seq("k"), "full_outer")
      .select(
        least(coalesce(col("si0"), col("si1")),
              coalesce(col("si1"), col("si0"))).as("lo"),
        when(col("si0").isNull || col("si1").isNull, lit(Long.MaxValue))
          .otherwise(greatest(col("si0"), col("si1"))).as("hi"))
    val survivors = cur0.join(retireIds, Seq("doc_id"), "left_anti")
    val cands = survivors.join(broadcast(ivals),
        col("si") >= col("lo") && col("si") <= col("hi"), "left_semi")
      .select(col("doc_id"), col("stage").as("stage_prev"), col("n_tokens"),
              col("score"), col("si"))
    // rank candidates ∪ enters within their grid points (complete at every
    // new-boundary grid point: boundary points lie inside their own
    // interval, enters are all present, leaves are excluded)
    val pool = cands.unionByName(enters
        .select(col("doc_id"), lit(null).cast("long").as("stage_prev"),
                col("n_tokens"), col("score"), col("si")))
      .withColumn("grid_rank", row_number().over(
        Window.partitionBy(col("si")).orderBy(col("doc_id"))).cast("long"))
    // new stage = #{k : (si, grid_rank) ≥ (si_k, c_k)} over the ≤9-row
    // boundary broadcast; left_outer keeps rows when b1 is empty (a <2-doc
    // universe has no clearable boundary → everything is stage 0)
    val newStage = pool.join(
        broadcast(b1.select(col("si").as("bsi"), col("ck"))),
        lit(true), "left_outer")
      .groupBy(col("doc_id"), col("stage_prev"), col("n_tokens"), col("score"))
      .agg(sum(when(col("si") > col("bsi") ||
                    (col("si") === col("bsi") && col("grid_rank") >= col("ck")),
               1L).otherwise(0L)).as("stage_new"))
    val moves = newStage
      .filter(col("stage_prev").isNotNull && col("stage_new") =!= col("stage_prev"))
      .select(col("doc_id"), lit("move").as("action"), col("stage_prev"),
              col("stage_new"), col("n_tokens"), col("score"))
    val enterRows = newStage.filter(col("stage_prev").isNull)
      .select(col("doc_id"), lit("enter").as("action"),
              lit(null).cast("long").as("stage_prev"), col("stage_new"),
              col("n_tokens"), col("score"))
    val leaveRows = leaves
      .select(col("doc_id"), lit("leave").as("action"), col("stage_prev"),
              lit(null).cast("long").as("stage_new"), col("n_tokens"),
              col("score"))
    enterRows.unionByName(moves).unionByName(leaveRows).orderBy("doc_id")
  }

  /** C19-SHARDS: the ledger's consequence for the TERMINAL artifact — the
    * shard-manifest diff, computed by repacking ONLY the stages the
    * curriculum ledger touched (c18's stage-boundary isolation doing the
    * job it was designed for — "a stage can be re-weighted without
    * re-packing neighbors", now load-bearing code, spec-pinned on both
    * sides): affected stages' new membership (survivors with their final
    * stage, plus enters) is re-ranked and re-packed through the SAME
    * [[rankWithinStage]]/[[packShards]] code paths the shipped manifest
    * used, then diffed against the staged shard rows of those stages.
    * Unaffected stages never enter any join — but the ORACLE diffs the
    * full c18@M1 against the full c18@M0, so the driver's hash equality
    * PROVES the isolation contract (had any untouched stage's rows
    * changed, the oracle would emit them and the gate would trip). Within
    * an affected stage, shards before the earliest change point cancel in
    * the diff — only the tails surface. Emits one row per differing
    * (stage, shard) with both sides' fill/docs/starts. */
  def c19_shard_delta(s: SparkSession, dir: String): DataFrame =
    c19ShardDeltaFrom(s, dir, c19_curriculum_delta(s, dir)
      .localCheckpoint()) // the O(delta + boundary-shift) ledger, consumed 4×

  /** c19's shard repack from a PRECOMPUTED curriculum ledger — factored
    * for the c20 release composite, which computes the ledger once
    * and threads it through both the curriculum rollup and this repack. */
  private[graft] def c19ShardDeltaFrom(s: SparkSession, dir: String,
                                       ledger: DataFrame): DataFrame = {
    val (cur0, _, _, shards0) = c19Settled(s, dir)
    val affected = ledger.select(col("stage_prev").as("stage"))
      .unionByName(ledger.select(col("stage_new").as("stage")))
      .filter(col("stage").isNotNull).distinct() // ≤ 2×|stages| rows
    val leavesIds = ledger.filter(col("action") === "leave").select(col("doc_id"))
    val movedTo = ledger.filter(col("action") === "move")
      .select(col("doc_id"), col("stage_new"))
    val surFinal = cur0.join(leavesIds, Seq("doc_id"), "left_anti")
      .join(movedTo, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("stage_new"), col("stage")).as("stage"),
              col("n_tokens"))
    val enterRows = ledger.filter(col("action") === "enter")
      .select(col("doc_id"), col("stage_new").as("stage"), col("n_tokens"))
    val members = surFinal.unionByName(enterRows)
      .join(broadcast(affected), Seq("stage"), "left_semi")
      .withColumn("h", pmod(col("doc_id") * lit(1103515245L) + lit(12345L),
                            lit(2147483648L)))
    val news = packShards(rankWithinStage(members)
        .select(col("doc_id"), col("stage"), col("rank_in_stage"), col("n_tokens")))
      .select(col("stage"), col("shard"), col("n_tokens").as("n_tokens_new"),
              col("n_docs").as("n_docs_new"), col("n_starts").as("n_starts_new"))
    val olds = shards0.join(broadcast(affected), Seq("stage"), "left_semi")
      .select(col("stage"), col("shard"), col("n_tokens").as("n_tokens_prev"),
              col("n_docs").as("n_docs_prev"), col("n_starts").as("n_starts_prev"))
    news.join(olds, Seq("stage", "shard"), "full_outer")
      .filter(col("n_tokens_new").isNull || col("n_tokens_prev").isNull ||
              col("n_tokens_new") =!= col("n_tokens_prev") ||
              col("n_docs_new") =!= col("n_docs_prev") ||
              col("n_starts_new") =!= col("n_starts_prev"))
      .select(col("stage"), col("shard"),
              when(col("n_tokens_prev").isNull, "new")
                .when(col("n_tokens_new").isNull, "dropped")
                .otherwise("changed").as("action"),
              col("n_tokens_prev"), col("n_docs_prev"), col("n_starts_prev"),
              col("n_tokens_new"), col("n_docs_new"), col("n_starts_new"))
      .orderBy("stage", "shard")
  }

  /** C19's per-stage SCHEDULE-CARD delta — what the increment does to
    * each training stage's budget (the c15_budget_delta / c17_stage_budget
    * rollup discipline at the terminal stage): per stage, docs entered /
    * left / moved in / moved out and the net token delta (a move charges
    * its new stage and refunds its old one). Bounded by the ≤10-row stage
    * inventory at any scale; one aggregate over the ledger. The identity
    * `stage_tokens@M0 + tok_delta = stage_tokens@M1` is spec-pinned. */
  def c19_budget_delta(s: SparkSession, dir: String): DataFrame = {
    val led = c19_curriculum_delta(s, dir)
    val gains = led.filter(col("stage_new").isNotNull)
      .select(col("stage_new").as("stage"),
              when(col("action") === "enter", 1L).otherwise(0L).as("n_enter"),
              lit(0L).as("n_leave"),
              when(col("action") === "move", 1L).otherwise(0L).as("n_move_in"),
              lit(0L).as("n_move_out"),
              col("n_tokens").as("tok_delta"))
    val losses = led.filter(col("stage_prev").isNotNull)
      .select(col("stage_prev").as("stage"),
              lit(0L).as("n_enter"),
              when(col("action") === "leave", 1L).otherwise(0L).as("n_leave"),
              lit(0L).as("n_move_in"),
              when(col("action") === "move", 1L).otherwise(0L).as("n_move_out"),
              (-col("n_tokens")).as("tok_delta"))
    gains.unionByName(losses).groupBy(col("stage"))
      .agg(sum(col("n_enter")).as("n_enter"), sum(col("n_leave")).as("n_leave"),
           sum(col("n_move_in")).as("n_move_in"),
           sum(col("n_move_out")).as("n_move_out"),
           sum(col("tok_delta")).as("tok_delta"))
      .orderBy("stage")
  }

  /** The stage-skew READING's batch finisher over any per-stage arrival
    * counts `(stage, n_arrived)` — shipped inventory join, zero-fill,
    * round4 shares, skew — factored to ONE body shared by the x42
    * streaming monitor's final reading and [[c19_fold_gate]]'s batch
    * consumption of it, so the signal the gate thresholds can never
    * drift from the signal the door emits (the frozenMarginSi/stageIdx
    * discipline, applied to the reading's arithmetic). Bounded
    * throughout: ≤10 stage rows, one global totals row. */
  private[graft] def stageSkewReport(s: SparkSession, dir: String,
                                     arrived: DataFrame): DataFrame =
    stageSkewFinisher(c17_stage_budget(s, dir)
      .select(col("stage"), col("n_docs").as("n_shipped")), arrived)

  /** The finisher alone, over explicit `(stage, n_shipped)` /
    * `(stage, n_arrived)` relations — split from [[stageSkewReport]] so
    * [[c19_fold_gate]] can derive its shipped inventory from the SAME
    * checkpointed curriculum relation its boundary array came from (one
    * c16→c17 chain per gate run, not two — measured 49.7 s → one chain
    * at sf1 warm). */
  private[graft] def stageSkewFinisher(shipped: DataFrame,
                                       arrived: DataFrame): DataFrame = {
    val j = shipped.join(arrived, Seq("stage"), "left_outer")
      .select(col("stage"), coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
              col("n_shipped"))
    val totals = j.agg(sum(col("n_arrived")).as("ta"),
                       sum(col("n_shipped")).as("ts"))
    val r4 = QUtil.round4 _
    j.crossJoin(broadcast(totals)) // bounded: one row by aggregation
      .withColumn("arrived_share", r4(col("n_arrived").cast("double") / col("ta")))
      .withColumn("shipped_share", r4(col("n_shipped").cast("double") / col("ts")))
      .select(col("stage"), col("n_arrived"), col("n_shipped"),
              col("arrived_share"), col("shipped_share"),
              r4(col("arrived_share") - col("shipped_share")).as("skew"))
      .orderBy("stage")
  }

  /** The x42 arrival rule batch-side: per-stage counts of the frozen
    * kept∩train universe under the door's highest-cleared-boundary stage
    * rule (the same relation x42's streaming leg accumulates per
    * trigger) — the nightly gate does not re-run the stream; it reads
    * the monitor's quantity from the same frozen artifacts. The ≤10
    * boundary pairs fold into a DESCENDING-stage coalesce(when(si ≥ m))
    * chain — a pure codegen'd projection whose first hit IS
    * max{stage : m ≤ si} regardless of boundary monotonicity (x41's
    * stageIdx scan as an expression; the sanctioned bounded-artifact
    * fold) — so the arrival side costs one scan projection plus one
    * ≤10-key count, no per-doc join or groupBy shuffle anywhere. */
  private[graft] def c19ArrivalStages(s: SparkSession, dir: String,
                                      bounds: Array[(Long, Long)]): DataFrame = {
    require(bounds.nonEmpty,
      "c19_fold_gate requires a nonempty shipped curriculum artifact (c17 is empty)")
    val (_, score, _, _, tau) = c14Model(s, dir)
    val stageExpr = coalesce(
      (bounds.sortBy(-_._1).map { case (st, m) =>
        when(col("si") >= lit(m), lit(st)) } :+
       lit(bounds.map(_._1).min)): _*)
    score.select(col("doc_id"), col("si"))
      .crossJoin(broadcast(tau)).filter(col("si") >= col("tau"))
      .filter(splitOf(col("doc_id")) === "train")
      .select(stageExpr.as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_arrived"))
  }

  /** C19-GATE: the SKEW-GATED FOLD DECISION — the x42 → c19 loop closed:
    * x42 emits the staleness reading (arriving traffic's
    * stage mix vs the shipped curriculum's), and this query CONSUMES it as
    * the compaction-scheduling decision every decide-at-the-door /
    * compact-at-night pipeline needs: if the mix skewed past the
    * threshold (`spark.graft.c19SkewGate`, default 0.02), the shipped
    * boundaries are stale and the nightly c19 fold runs NOW; otherwise it
    * holds. c8's gated-increment pattern verbatim at the funnel's
    * terminal stage: the decision is a 1-row control-plane read
    * (sanctioned `boundedCollect` — a scheduling trigger IS a driver-side
    * decision in any engine), and the chosen branch's work is then
    * summarized — fold_now runs the REAL c19 fold (one c15 ledger
    * threaded through the curriculum fold and the shard repack, c20's
    * shared-upstream wiring) and reports its ledger counts; hold runs
    * nothing and reports zeros.
    *
    * Both outcomes are oracle-proven on REAL data, SF-dependent exactly
    * as c8's spec predicts: the reading's shares carry small-sample noise
    * that decays with corpus size, so at sf0.01 (194 arrivals over 10
    * stages) max|skew| reads 0.0639 and the gate FIRES — the driver's
    * correctness gate proves fold-branch parity — while at sf0.1 (1,837
    * arrivals) it reads 0.0082 and the gate HOLDS (hold-branch parity
    * verified in the same compare harness at sf0.1). Both outcomes are
    * additionally pinned deterministically in `QueriesSmokeSpec` by
    * driving the threshold knob to each side on one dataset. The oracle's
    * CASE hardcodes the default threshold (c8's contract: the knob is an
    * experiment surface; the DECLARED query is the default).
    *
    * Scale shape: the reading costs one ≤10-row broadcast non-equi join
    * over the already-staged frozen artifacts plus one global aggregate;
    * the gate adds nothing corpus-bound on top of the fold it schedules,
    * and the hold branch is O(1) — which is the point: monitoring stays
    * cheap enough to run every night while the fold runs only when the
    * door says the boundaries moved. */
  def c19_fold_gate(s: SparkSession, dir: String): DataFrame = {
    val thr = s.conf.get("spark.graft.c19SkewGate", "0.02").toDouble
    // ONE c16→c17 chain feeds both sides of the reading: the boundary
    // array (collected, folded into the arrival projection) and the
    // shipped per-stage inventory
    val cur = c17CurriculumUnordered(s, dir)
      .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
      .localCheckpoint()
    val boundsArr = graft.plans.BroadcastContract.boundedCollect(
      cur.groupBy(col("stage")).agg(min(col("si")).as("m")),
      "c17 stage boundaries: <= 10 rows by construction")
      .map(r => (r.getLong(0), r.getLong(1)))
    val shipped = cur.groupBy(col("stage")).agg(count(lit(1)).as("n_shipped"))
    val reading = stageSkewFinisher(shipped,
      c19ArrivalStages(s, dir, boundsArr))
    val mx = graft.plans.BroadcastContract.boundedCollect(
      graft.plans.BroadcastContract.boundedCheckpoint(
        reading.agg(max(abs(col("skew"))).as("mx")),
        "c19 skew gate: one global-aggregate row by construction"),
      "c19 fold decision: 1-row control-plane read")(0).getDouble(0)
    val fold = mx > thr
    val summary =
      if (fold) {
        val (ledger0, _) = QUtil.par2(s)(
          c15_manifest_increment(s, dir).localCheckpoint(),
          c19Settled(s, dir)) // overlap, as in c19_curriculum_delta
        val led = c19CurriculumDeltaFrom(s, dir, ledger0)
          .localCheckpoint() // consumed by the rollup and the repack
        led.agg(
            sum(when(col("action") === "enter", 1L).otherwise(0L)).as("n_enter"),
            sum(when(col("action") === "leave", 1L).otherwise(0L)).as("n_leave"),
            sum(when(col("action") === "move", 1L).otherwise(0L)).as("n_move"))
          .crossJoin(c19ShardDeltaFrom(s, dir, led)
            .agg(count(lit(1)).as("n_shard_rows")))
      } else {
        s.range(1).select(lit(0L).as("n_enter"), lit(0L).as("n_leave"),
          lit(0L).as("n_move"), lit(0L).as("n_shard_rows"))
      }
    summary.select(lit(mx).as("max_abs_skew"),
      lit(if (fold) "fold_now" else "hold").as("decision"),
      col("n_enter"), col("n_leave"), col("n_move"), col("n_shard_rows"))
  }

  /** The stage-skew reading's oracle SQL — the arrival side is the door's
    * stage rule over the frozen kept∩train universe (c14 + split oracles
    * verbatim), the shipped side the curriculum's per-stage inventory;
    * integer counts, round4 shares. Lives HERE (not in Streams) so both
    * the x42 oracle and [[c19GateSql]] splice the one spelling without a
    * Pipeline → Streams object-initialization cycle. */
  private[graft] def stageSkewSqlBody: String = {
    val splitCase =
      """CASE WHEN substring(md5('split:' || sc.doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
        |     WHEN substring(md5('split:' || sc.doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
        |     ELSE 'test' END""".stripMargin
    s"""WITH cur AS MATERIALIZED (
       |$c17Sql
       |), bounds AS (
       |  SELECT stage, min(floor(score * 1000000.0 + 0.5)::BIGINT) AS m
       |  FROM cur GROUP BY 1
       |), sc AS (
       |  SELECT c.doc_id, floor(c.score * 1000000.0 + 0.5)::BIGINT AS si
       |  FROM (
       |$c14Sql
       |  ) c
       |  WHERE c.keep
       |), st AS (
       |  SELECT doc_id,
       |    coalesce((SELECT max(b.stage) FROM bounds b WHERE b.m <= sc.si),
       |             (SELECT min(b2.stage) FROM bounds b2))::BIGINT AS stage
       |  FROM sc
       |  WHERE $splitCase = 'train'
       |), arr AS (
       |  SELECT stage, count(*)::BIGINT AS n_arrived FROM st GROUP BY 1
       |), shp AS (
       |  SELECT stage, count(*)::BIGINT AS n_shipped FROM cur GROUP BY 1
       |), j AS (
       |  SELECT s.stage, coalesce(a.n_arrived, 0)::BIGINT AS n_arrived,
       |         s.n_shipped
       |  FROM shp s LEFT JOIN arr a ON a.stage = s.stage
       |), t AS (
       |  SELECT sum(n_arrived)::BIGINT AS ta, sum(n_shipped)::BIGINT AS ts
       |  FROM j
       |)
       |SELECT j.stage, j.n_arrived, j.n_shipped,
       |  floor(j.n_arrived::DOUBLE / t.ta * 10000.0 + 0.5) / 10000.0
       |    AS arrived_share,
       |  floor(j.n_shipped::DOUBLE / t.ts * 10000.0 + 0.5) / 10000.0
       |    AS shipped_share,
       |  floor((floor(j.n_arrived::DOUBLE / t.ta * 10000.0 + 0.5) / 10000.0
       |         - floor(j.n_shipped::DOUBLE / t.ts * 10000.0 + 0.5) / 10000.0)
       |        * 10000.0 + 0.5) / 10000.0 AS skew
       |FROM j, t ORDER BY j.stage""".stripMargin
  }

  /** c19-gate oracle: the skew reading as a derived table, the default
    * threshold's CASE, and BOTH branch summaries as real relations (the
    * c8 discipline) with the CASE selecting — ledger counts from the c19
    * full-recompute diff, shard rows from the full c18@M1 vs @M0 diff.
    * `lazy` because it splices c19Sql/c19ShardSql, which are declared
    * LATER in this object — a strict val here would interpolate their
    * uninitialized (null) values at object-init time. */
  lazy val c19GateSql: String =
    s"""SELECT g.max_abs_skew, g.decision,
       |  (CASE WHEN g.decision = 'fold_now' THEN l.n_enter ELSE 0 END)::BIGINT AS n_enter,
       |  (CASE WHEN g.decision = 'fold_now' THEN l.n_leave ELSE 0 END)::BIGINT AS n_leave,
       |  (CASE WHEN g.decision = 'fold_now' THEN l.n_move ELSE 0 END)::BIGINT AS n_move,
       |  (CASE WHEN g.decision = 'fold_now' THEN sd.n_shard_rows ELSE 0 END)::BIGINT AS n_shard_rows
       |FROM (
       |  SELECT mx AS max_abs_skew,
       |    CASE WHEN mx > 0.02 THEN 'fold_now' ELSE 'hold' END AS decision
       |  FROM (SELECT max(abs(skew)) AS mx FROM (
       |$stageSkewSqlBody
       |  ))
       |) g
       |CROSS JOIN (
       |  SELECT sum(CASE WHEN action = 'enter' THEN 1 ELSE 0 END)::BIGINT AS n_enter,
       |         sum(CASE WHEN action = 'leave' THEN 1 ELSE 0 END)::BIGINT AS n_leave,
       |         sum(CASE WHEN action = 'move' THEN 1 ELSE 0 END)::BIGINT AS n_move
       |  FROM (
       |$c19Sql
       |  )
       |) l
       |CROSS JOIN (
       |  SELECT count(*)::BIGINT AS n_shard_rows FROM (
       |$c19ShardSql
       |  )
       |) sd""".stripMargin

  /** The c19 oracles' shared base: the frozen scored corpus (c14Sql), the
    * combined manifest (c13Sql), the settled manifest (c15's chain
    * verbatim), and BOTH curricula in the plain one-window spelling. */
  private val c19BaseCtes: String =
    s"""gsc AS MATERIALIZED (
       |  SELECT doc_id, score, floor(score * 1000000.0 + 0.5)::BIGINT AS si, keep
       |  FROM ($c14Sql)
       |), m1 AS MATERIALIZED (
       |$c13Sql
       |), $settledManifestCtes,
       |u1 AS (
       |  SELECT m1.doc_id, m1.n_tokens, gsc.score, gsc.si,
       |    ((m1.doc_id * 1103515245 + 12345) % 2147483648 + 2147483648)
       |      % 2147483648 AS h
       |  FROM m1 JOIN gsc ON gsc.doc_id = m1.doc_id
       |  WHERE m1.split = 'train' AND gsc.keep
       |), u0 AS (
       |  SELECT m0.doc_id, m0.n_tokens, gsc.score, gsc.si,
       |    ((m0.doc_id * 1103515245 + 12345) % 2147483648 + 2147483648)
       |      % 2147483648 AS h
       |  FROM m0 JOIN gsc ON gsc.doc_id = m0.doc_id
       |  WHERE m0.split = 'train' AND gsc.keep
       |), r1 AS (
       |  SELECT *, row_number() OVER (ORDER BY si, doc_id) AS rnk,
       |         count(*) OVER () AS n
       |  FROM u1
       |), s1 AS MATERIALIZED (
       |  SELECT doc_id, n_tokens, score, h,
       |         (((rnk - 1) * 10) // n)::BIGINT AS stage
       |  FROM r1
       |), r0 AS (
       |  SELECT *, row_number() OVER (ORDER BY si, doc_id) AS rnk,
       |         count(*) OVER () AS n
       |  FROM u0
       |), s0 AS MATERIALIZED (
       |  SELECT doc_id, n_tokens, score, h,
       |         (((rnk - 1) * 10) // n)::BIGINT AS stage
       |  FROM r0
       |)""".stripMargin

  val c19Sql: String =
    s"""WITH $c19BaseCtes
       |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |  CASE WHEN b.doc_id IS NULL THEN 'enter'
       |       WHEN a.doc_id IS NULL THEN 'leave' ELSE 'move' END AS action,
       |  b.stage AS stage_prev, a.stage AS stage_new,
       |  coalesce(a.n_tokens, b.n_tokens) AS n_tokens,
       |  coalesce(a.score, b.score) AS score
       |FROM s1 a FULL OUTER JOIN s0 b ON a.doc_id = b.doc_id
       |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.stage <> b.stage
       |ORDER BY 1""".stripMargin

  /** Oracle: one aggregate over the c19 oracle as a derived table. */
  val c19BudgetSql: String =
    s"""WITH led AS MATERIALIZED (
       |$c19Sql
       |), gl AS (
       |  SELECT stage_new AS stage,
       |    CASE WHEN action = 'enter' THEN 1 ELSE 0 END AS n_enter,
       |    0 AS n_leave,
       |    CASE WHEN action = 'move' THEN 1 ELSE 0 END AS n_move_in,
       |    0 AS n_move_out, n_tokens AS tok_delta
       |  FROM led WHERE stage_new IS NOT NULL
       |  UNION ALL
       |  SELECT stage_prev, 0,
       |    CASE WHEN action = 'leave' THEN 1 ELSE 0 END, 0,
       |    CASE WHEN action = 'move' THEN 1 ELSE 0 END, -n_tokens
       |  FROM led WHERE stage_prev IS NOT NULL
       |)
       |SELECT stage, sum(n_enter)::BIGINT AS n_enter,
       |  sum(n_leave)::BIGINT AS n_leave,
       |  sum(n_move_in)::BIGINT AS n_move_in,
       |  sum(n_move_out)::BIGINT AS n_move_out,
       |  sum(tok_delta)::BIGINT AS tok_delta
       |FROM gl GROUP BY 1 ORDER BY 1""".stripMargin

  /** c18's packing chain over one oracle curriculum (tagged CTE names).
    * Carries [[packShards]]' `n_tokens ≥ 1` invariant: `range(a, b+1)`
    * here is empty when b < a while the engine's `sequence(a, b)` emits a
    * descending pair — only rows with at least one token keep the two
    * spellings identical (see the packShards scaladoc for the full
    * derivation; the invariant is structural in every current
    * tokenization). */
  private def c19PackCtes(src: String, tag: String): String =
    s"""rk$tag AS (
       |  SELECT doc_id, stage, n_tokens,
       |    row_number() OVER (PARTITION BY stage ORDER BY h, doc_id) AS rnk
       |  FROM $src
       |), o$tag AS (
       |  SELECT stage, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY stage ORDER BY rnk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
       |  FROM rk$tag
       |), t$tag AS (SELECT stage, sum(n_tokens)::BIGINT AS total FROM $src GROUP BY 1),
       |ch$tag AS (
       |  SELECT stage, off, n_tokens,
       |    unnest(range(off // 128, (off + n_tokens - 1) // 128 + 1)) AS shard
       |  FROM o$tag
       |), sh$tag AS (
       |  SELECT ch.stage, shard::BIGINT AS shard,
       |    least(128, t.total - shard * 128)::BIGINT AS n_tokens,
       |    count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN off // 128 = shard THEN 1 ELSE 0 END)::BIGINT AS n_starts
       |  FROM ch$tag ch JOIN t$tag t USING (stage)
       |  GROUP BY ch.stage, shard, t.total
       |)""".stripMargin

  /** Oracle: the full c18@M1 vs c18@M0 diff — both shard manifests packed
    * from their full curricula, outer-joined, differing rows only. Hash
    * equality against the Spark side's affected-stages-only repack IS the
    * stage-isolation proof. */
  val c19ShardSql: String =
    s"""WITH $c19BaseCtes,
       |${c19PackCtes("s1", "1")},
       |${c19PackCtes("s0", "0")}
       |SELECT coalesce(a.stage, b.stage) AS stage,
       |  coalesce(a.shard, b.shard) AS shard,
       |  CASE WHEN b.stage IS NULL THEN 'new'
       |       WHEN a.stage IS NULL THEN 'dropped' ELSE 'changed' END AS action,
       |  b.n_tokens AS n_tokens_prev, b.n_docs AS n_docs_prev,
       |  b.n_starts AS n_starts_prev,
       |  a.n_tokens AS n_tokens_new, a.n_docs AS n_docs_new,
       |  a.n_starts AS n_starts_new
       |FROM sh1 a FULL OUTER JOIN sh0 b
       |  ON a.stage = b.stage AND a.shard = b.shard
       |WHERE a.stage IS NULL OR b.stage IS NULL
       |   OR a.n_tokens <> b.n_tokens OR a.n_docs <> b.n_docs
       |   OR a.n_starts <> b.n_starts
       |ORDER BY 1, 2""".stripMargin

  /** C20: the RELEASE-INCREMENT COMPOSITE — the nightly compaction event
    * itself: every asset family in the repo has an
    * O(delta) settled-vs-delta increment (text d12/d13, postings t30,
    * vectors s18/c8, media m9, manifest c15, curriculum/shards c19), each
    * verified in isolation; a production release applies ONE crawl
    * increment through ALL of them and ships the cross-family ledger
    * rollup. This query is that event: the standing `doc_id % 10 = 0`
    * increment folded end-to-end through every family's OWN fold (the
    * same function bodies the standalone queries run — d12's
    * incrClassify, d13's banded probe, t30's [[TextAnalysis.bm25TfOf]]
    * delta postings, s18's frozen-index encode via
    * [[Similarity.s18DeltaSummary]], m9's two-tier classify, c15's
    * manifest fold, c19's boundary-sweep fold and affected-stage repack),
    * emitting one row per (family, metric): the release review's
    * docs/tokens/postings/vectors/assets/shards-touched card.
    *
    * SHARED UPSTREAM, COMPUTED ONCE — the reason the composite exists as
    * one query rather than seven: the c15 manifest ledger is folded once
    * and threaded into both the manifest rollup and c19's curriculum fold
    * ([[c19CurriculumDeltaFrom]]); the c19 ledger is folded once and
    * threaded into both the curriculum rollup and the shard repack
    * ([[c19ShardDeltaFrom]]). The reference's analog is
    * `SocialNetwork.main` wiring every task over ONE resolved stream
    * (reference `project/social-network/src/main/java/socialnetwork/
    * SocialNetwork.java:25-52`) — one entry point, shared upstream,
    * per-family legs.
    *
    * Cross-family consistency (the identities that make one RELEASE out
    * of seven folds, spec-pinned in `QueriesSmokeSpec`): a d13 near-dup
    * whose partner precedes it never re-enters the manifest as a c15 add
    * (same banded pair space, same min-anchor rule); every c19 `enter`
    * carries the identical n_tokens its c15 add and the c18/c19 shard
    * charge use (one `size(split(text,' '))` spelling family-wide); and
    * every family's staged settled artifact describes the SAME settled
    * corpus — the `% 10 ≠ 0` slice (t30's stats row, m9's digest table,
    * s18's code table, c15's manifest all count it identically).
    *
    * Scale shape: the composite's cost is the SUM of the family folds —
    * each leg is the family's own O(delta + affected) dataflow against
    * its staged settled artifact, no leg rescans another's corpus, and
    * the final union is eight 1-row aggregates stacked row-locally
    * (`stack` is a local generator — no shuffle beyond what the family
    * folds already do). Warm sf1: composite ≈ Σ family increments,
    * measured in STRESS_sf1.md.
    *
    * Oracle: each family's FULL-RECOMPUTE oracle (d12/d13/m9/c15/c19/
    * c19-shards verbatim; postings and vectors from their batch chains)
    * aggregated to the same metric rows — the driver's hash equality is
    * the composite's proof that one pass of shared folds equals seven
    * independent batch diffs. */
  def c20_release_increment(s: SparkSession, dir: String): DataFrame = {
    def longRows(family: String, agg: DataFrame): DataFrame = {
      val cols = agg.columns.toSeq
      val stackArgs = cols.map(c => s"'$c', cast(`$c` as bigint)").mkString(", ")
      agg.selectExpr(s"stack(${cols.length}, $stackArgs) as (metric, value)")
        .select(lit(family).as("family"), col("metric"), col("value"))
    }
    def statusCounts(df: DataFrame, statuses: Seq[String]): DataFrame = {
      val aggs = statuses.map(st =>
        sum(when(col("status") === st, 1L).otherwise(0L)).as(s"n_$st"))
      df.agg(aggs.head, aggs.tail: _*)
    }
    // The family legs are INDEPENDENT dataflows over their own staged
    // settled artifacts (the scaladoc's "no leg rescans another's corpus");
    // only the manifest→curriculum→shards backbone is sequential. Running
    // the legs concurrently lets the cluster back-fill one leg's straggler
    // tail with the next leg's work. Each family leg materializes its
    // bounded 1-row metrics relation (localCheckpoint), so the final union
    // stacks already-materialized rows; staged artifacts several legs
    // share (d3Pairs, the c14 model, the settled indexes) are built once.
    // Output identical to the sequential spelling.
    def leg(body: => DataFrame): () => Seq[DataFrame] =
      () => Seq(body.localCheckpoint())
    val deltaTf = TextAnalysis.bm25TfOf(
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0))
    val Seq(Seq(c15Led, c19Led, shardD), Seq(textExact), Seq(textNear),
            Seq(postings), Seq(vectors), Seq(media)) = QUtil.parAll(s)(
      () => {
        val manifest = c15_manifest_increment(s, dir)
          .localCheckpoint() // ONE manifest fold: rollup + c19's input
        val curriculum = c19CurriculumDeltaFrom(s, dir, manifest)
          .localCheckpoint() // ONE curriculum fold: rollup + shard repack
        Seq(manifest, curriculum, c19ShardDeltaFrom(s, dir, curriculum))
      },
      leg(statusCounts(Dedup.d12_incremental_dedup(s, dir),
        Seq("dup_of_base", "dup_in_delta", "unique"))),
      leg(statusCounts(Dedup.d13_incremental_neardup(s, dir),
        Seq("neardup_of_base", "neardup_in_delta", "unique"))),
      leg(deltaTf.agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_postings"),
        countDistinct(col("term")).as("n_terms_touched"))),
      leg(Similarity.s18DeltaSummary(s, dir)),
      leg(statusCounts(Multimodal.m9_incremental_media(s, dir),
        Seq("dup_of_base", "dup_in_delta", "neardup_of_base",
            "neardup_in_delta", "unique"))))
    longRows("text_exact", textExact)
      .unionByName(longRows("text_near", textNear))
      .unionByName(longRows("postings", postings))
      .unionByName(longRows("vectors", vectors))
      .unionByName(longRows("media", media))
      .unionByName(longRows("manifest", c15Led.agg(
        sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_add"),
        sum(when(col("action") === "retire", 1L).otherwise(0L)).as("n_retire"),
        sum(col("tok_delta")).as("tok_delta"))))
      .unionByName(longRows("curriculum", c19Led.agg(
        sum(when(col("action") === "enter", 1L).otherwise(0L)).as("n_enter"),
        sum(when(col("action") === "leave", 1L).otherwise(0L)).as("n_leave"),
        sum(when(col("action") === "move", 1L).otherwise(0L)).as("n_move"),
        sum(when(col("action") === "enter", col("n_tokens"))
          .when(col("action") === "leave", -col("n_tokens"))
          .otherwise(0L)).as("tok_delta"))))
      .unionByName(longRows("shards", shardD.agg(
        sum(when(col("action") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("action") === "dropped", 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("action") === "changed", 1L).otherwise(0L)).as("n_changed"))))
      .orderBy("family", "metric")
  }

  /** c20 oracle: every family's full-recompute oracle as a derived table,
    * aggregated to one metrics row and unpivoted through a bounded VALUES
    * cross join (each family chain computed ONCE — no per-metric rescan).
    * No top-level CTEs by design: every spliced family oracle carries its
    * own WITH chain in its own derived-table scope, so their inner CTE
    * names (m0/m1/scomp/gsc/…) cannot collide (the DuckDB non-shadowing
    * gotcha). */
  val c20Sql: String =
    s"""SELECT 'text_exact' AS family, m.metric,
       |  CASE m.metric WHEN 'n_dup_of_base' THEN a.n_dup_of_base
       |       WHEN 'n_dup_in_delta' THEN a.n_dup_in_delta
       |       ELSE a.n_unique END AS value
       |FROM (
       |  SELECT sum(CASE WHEN status = 'dup_of_base' THEN 1 ELSE 0 END)::BIGINT AS n_dup_of_base,
       |         sum(CASE WHEN status = 'dup_in_delta' THEN 1 ELSE 0 END)::BIGINT AS n_dup_in_delta,
       |         sum(CASE WHEN status = 'unique' THEN 1 ELSE 0 END)::BIGINT AS n_unique
       |  FROM (
       |${Dedup.d12Sql}
       |  )
       |) a CROSS JOIN (VALUES ('n_dup_of_base'), ('n_dup_in_delta'), ('n_unique')) m(metric)
       |UNION ALL
       |SELECT 'text_near', m.metric,
       |  CASE m.metric WHEN 'n_neardup_of_base' THEN a.n_neardup_of_base
       |       WHEN 'n_neardup_in_delta' THEN a.n_neardup_in_delta
       |       ELSE a.n_unique END
       |FROM (
       |  SELECT sum(CASE WHEN status = 'neardup_of_base' THEN 1 ELSE 0 END)::BIGINT AS n_neardup_of_base,
       |         sum(CASE WHEN status = 'neardup_in_delta' THEN 1 ELSE 0 END)::BIGINT AS n_neardup_in_delta,
       |         sum(CASE WHEN status = 'unique' THEN 1 ELSE 0 END)::BIGINT AS n_unique
       |  FROM (
       |${Dedup.d13Sql}
       |  )
       |) a CROSS JOIN (VALUES ('n_neardup_of_base'), ('n_neardup_in_delta'), ('n_unique')) m(metric)
       |UNION ALL
       |SELECT 'postings', m.metric,
       |  CASE m.metric WHEN 'n_docs' THEN a.n_docs
       |       WHEN 'n_tokens' THEN a.n_tokens
       |       WHEN 'n_postings' THEN a.n_postings
       |       ELSE a.n_terms_touched END
       |FROM (
       |  SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
       |         sum(tf)::BIGINT AS n_tokens,
       |         count(*)::BIGINT AS n_postings,
       |         count(DISTINCT term)::BIGINT AS n_terms_touched
       |  FROM (
       |    SELECT term, doc_id, count(*)::BIGINT AS tf
       |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |          FROM documents WHERE doc_id % 10 = 0)
       |    GROUP BY 1, 2)
       |) a CROSS JOIN (VALUES ('n_docs'), ('n_tokens'), ('n_postings'), ('n_terms_touched')) m(metric)
       |UNION ALL
       |SELECT 'vectors', m.metric,
       |  CASE m.metric WHEN 'n_vecs_encoded' THEN a.n_vecs_encoded
       |       WHEN 'n_code_rows' THEN a.n_code_rows
       |       ELSE a.n_cells_touched END
       |FROM (
       |  SELECT count(DISTINCT vec_id)::BIGINT AS n_vecs_encoded,
       |         count(*)::BIGINT AS n_code_rows,
       |         count(DISTINCT cell)::BIGINT AS n_cells_touched
       |  FROM (
       |${Similarity.s18DeltaCodesSql}
       |  )
       |) a CROSS JOIN (VALUES ('n_vecs_encoded'), ('n_code_rows'), ('n_cells_touched')) m(metric)
       |UNION ALL
       |SELECT 'media', m.metric,
       |  CASE m.metric WHEN 'n_dup_of_base' THEN a.n_dup_of_base
       |       WHEN 'n_dup_in_delta' THEN a.n_dup_in_delta
       |       WHEN 'n_neardup_of_base' THEN a.n_neardup_of_base
       |       WHEN 'n_neardup_in_delta' THEN a.n_neardup_in_delta
       |       ELSE a.n_unique END
       |FROM (
       |  SELECT sum(CASE WHEN status = 'dup_of_base' THEN 1 ELSE 0 END)::BIGINT AS n_dup_of_base,
       |         sum(CASE WHEN status = 'dup_in_delta' THEN 1 ELSE 0 END)::BIGINT AS n_dup_in_delta,
       |         sum(CASE WHEN status = 'neardup_of_base' THEN 1 ELSE 0 END)::BIGINT AS n_neardup_of_base,
       |         sum(CASE WHEN status = 'neardup_in_delta' THEN 1 ELSE 0 END)::BIGINT AS n_neardup_in_delta,
       |         sum(CASE WHEN status = 'unique' THEN 1 ELSE 0 END)::BIGINT AS n_unique
       |  FROM (
       |${Multimodal.m9Sql}
       |  )
       |) a CROSS JOIN (VALUES ('n_dup_of_base'), ('n_dup_in_delta'), ('n_neardup_of_base'), ('n_neardup_in_delta'), ('n_unique')) m(metric)
       |UNION ALL
       |SELECT 'manifest', m.metric,
       |  CASE m.metric WHEN 'n_add' THEN a.n_add
       |       WHEN 'n_retire' THEN a.n_retire
       |       ELSE a.tok_delta END
       |FROM (
       |  SELECT sum(CASE WHEN action = 'add' THEN 1 ELSE 0 END)::BIGINT AS n_add,
       |         sum(CASE WHEN action = 'retire' THEN 1 ELSE 0 END)::BIGINT AS n_retire,
       |         sum(tok_delta)::BIGINT AS tok_delta
       |  FROM (
       |$c15Sql
       |  )
       |) a CROSS JOIN (VALUES ('n_add'), ('n_retire'), ('tok_delta')) m(metric)
       |UNION ALL
       |SELECT 'curriculum', m.metric,
       |  CASE m.metric WHEN 'n_enter' THEN a.n_enter
       |       WHEN 'n_leave' THEN a.n_leave
       |       WHEN 'n_move' THEN a.n_move
       |       ELSE a.tok_delta END
       |FROM (
       |  SELECT sum(CASE WHEN action = 'enter' THEN 1 ELSE 0 END)::BIGINT AS n_enter,
       |         sum(CASE WHEN action = 'leave' THEN 1 ELSE 0 END)::BIGINT AS n_leave,
       |         sum(CASE WHEN action = 'move' THEN 1 ELSE 0 END)::BIGINT AS n_move,
       |         sum(CASE WHEN action = 'enter' THEN n_tokens
       |                  WHEN action = 'leave' THEN -n_tokens
       |                  ELSE 0 END)::BIGINT AS tok_delta
       |  FROM (
       |$c19Sql
       |  )
       |) a CROSS JOIN (VALUES ('n_enter'), ('n_leave'), ('n_move'), ('tok_delta')) m(metric)
       |UNION ALL
       |SELECT 'shards', m.metric,
       |  CASE m.metric WHEN 'n_new' THEN a.n_new
       |       WHEN 'n_dropped' THEN a.n_dropped
       |       ELSE a.n_changed END
       |FROM (
       |  SELECT sum(CASE WHEN action = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
       |         sum(CASE WHEN action = 'dropped' THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |         sum(CASE WHEN action = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed
       |  FROM (
       |$c19ShardSql
       |  )
       |) a CROSS JOIN (VALUES ('n_new'), ('n_dropped'), ('n_changed')) m(metric)
       |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c20_release_increment" -> (c20_release_increment _),
    "c19_fold_gate" -> (c19_fold_gate _),
    "c19_curriculum_delta" -> (c19_curriculum_delta _),
    "c19_shard_delta" -> (c19_shard_delta _),
    "c19_budget_delta" -> (c19_budget_delta _),
    "c18_shard_manifest" -> (c18_shard_manifest _),
    "c17_curriculum" -> (c17_curriculum _),
    "c17_stage_budget" -> (c17_stage_budget _),
    "c16_gated_manifest" -> (c16_gated_manifest _),
    "c15_manifest_increment" -> (c15_manifest_increment _),
    "c15_budget_delta" -> (c15_budget_delta _),
    "c14_gate_compare" -> (c14_gate_compare _),
    "c14_quality_classifier" -> (c14_quality_classifier _),
    "c13_release_manifest" -> (c13_release_manifest _),
    "c12_split_delta" -> (c12_split_delta _),
    "c11_cluster_split" -> (c11_cluster_split _),
    "c10_split_leakage" -> (c10_split_leakage _),
    "c9_bloom_decontam" -> (c9_bloom_decontam _),
    "c7_drop_ledger" -> (c7_drop_ledger _),
    "c6_train_split" -> (c6_train_split _),
    "c5_mixture_materialize" -> (c5_mixture_materialize _),
    "c4_corpus_card" -> (c4_corpus_card _),
    "c3_decontaminated" -> (c3_decontaminated _),
    "c1_clean_corpus" -> (c1_clean_corpus _))

  val oracles: Map[String, String] = Map(
    "c20_release_increment" -> c20Sql,
    "c19_fold_gate" -> c19GateSql,
    "c19_curriculum_delta" -> c19Sql,
    "c19_shard_delta" -> c19ShardSql,
    "c19_budget_delta" -> c19BudgetSql,
    "c18_shard_manifest" -> c18Sql,
    "c17_curriculum" -> c17Sql,
    "c17_stage_budget" -> c17BudgetSql,
    "c16_gated_manifest" -> c16Sql,
    "c15_manifest_increment" -> c15Sql,
    "c15_budget_delta" -> c15BudgetSql,
    "c14_gate_compare" -> c14CmpSql,
    "c14_quality_classifier" -> c14Sql,
    "c13_release_manifest" -> c13Sql,
    "c12_split_delta" -> c12Sql,
    "c11_cluster_split" -> c11Sql,
    "c10_split_leakage" -> c10Sql,
    // identical relation by construction — the bloom only prunes the
    // shuffle, never the result, so t14's exact oracle is c9's oracle
    "c9_bloom_decontam" -> TextAnalysis.t14Sql,
    "c7_drop_ledger" -> c7Sql,
    "c6_train_split" -> c6Sql,
    "c5_mixture_materialize" -> c5Sql,
    "c4_corpus_card" -> c4Sql,
    "c3_decontaminated" -> c3Sql,
    "c1_clean_corpus" -> c1Sql)
}
