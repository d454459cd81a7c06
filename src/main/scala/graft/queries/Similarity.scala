package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import QUtil._

/** Similarity search over the `embeddings` table (64-dim unit float vectors):
  * brute-force cosine top-k (the exact baseline), random-hyperplane LSH
  * near-dup pairs, and an IVF-style centroid-routed top-k (the scale path).
  *
  * Scale design:
  *  - s1 brute force is O(|Q|·N·D) — correct baseline, linear scans; the
  *    tiny query side is broadcast so the corpus never shuffles, and dot
  *    products are ARRAY-NATIVE (`zip_with` + `aggregate`, one row per pair)
  *    rather than explode-joins (which would multiply the pair table ×64).
  *  - s2 hyperplane LSH: 16 sign-bits vs deterministic pseudo-random
  *    hyperplanes → 2×8-bit bands → candidate pairs via equi-join on
  *    (band, value) — the quadratic pair space is never materialized; only
  *    candidates get exact verification.
  *  - s3 IVF: coarse quantizer = per-label centroids (10 cells); queries
  *    route to their nearest centroid and search ONLY that cell — the
  *    1/cells fan-out reduction that makes ANN tractable at scale.
  *
  * Cross-engine determinism: every dot-product addend is cast to exact
  * DECIMAL(30,20) (float×float products are exact in double; double→decimal
  * is the same nearest-rounding in both engines), so the sum is
  * order-independent — Spark's sequential array fold and DuckDB's grouped
  * sum agree bit-for-bit. Scores floor-round to 4 dp; rank ties break on
  * vec_id.
  */
object Similarity {

  private val D = 64 // embedding dimensionality (TESTDATA.md)
  private val DEC = "decimal(30,20)"

  /** Default bound of the deterministic training sample (`vec_id < m`,
    * c2-ann's faiss `train()` contract). Single-sourced into BOTH the
    * `spark.graft.semdedupSample` conf default and every oracle CTE that
    * spells the sample (`es` / `es25`), so the two engines cannot diverge
    * silently when this number changes (the QualityGdIters/QualityGdEta
    * discipline). Overriding the conf at runtime is a production-shape
    * experiment that TRADES ORACLE HASH-EQUALITY, exactly like
    * `semdedupK` — the oracle always runs at this default. */
  private[graft] val SemdedupSampleDefault = 1024

  private def semdedupSample(s: SparkSession): Int =
    s.conf.get("spark.graft.semdedupSample", SemdedupSampleDefault.toString).toInt

  /** Dot product of two float-array columns with exact-decimal
    * accumulation: each product is quantized to DECIMAL(30,20) before the
    * sum, so the result is order-independent and matches the DuckDB
    * oracle's grouped sum bit for bit. */
  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(DEC)),
      lit(0).cast(DEC),
      (acc, x) => (acc + x).cast(DEC)).cast("double")

  /** S1 brute-force cosine top-k: queries = vec_id ≡ 0 (mod 100), k = 5. */
  def s1_ann_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"), col("n2").as("qn2"))
    emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("dp", dot(col("embedding"), col("qemb")))
      .withColumn("cosine", round4(col("dp") / sqrt(col("qn2") * col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  private val elemsSqlCte: String =
    s"""e AS (
      |  SELECT vec_id, label, i, embedding[i + 1]::DOUBLE AS v
      |  FROM embeddings CROSS JOIN (SELECT unnest(range($D)) AS i)
      |)""".stripMargin

  val s1Sql: String =
    s"""WITH $elemsSqlCte, norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), dots AS (
      |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
      |         sum((q.v * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM e q JOIN e d ON q.i = d.i AND d.vec_id <> q.vec_id
      |  WHERE q.vec_id % 100 = 0
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT q_id, dots.vec_id AS vec_id,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM dots
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = dots.vec_id
      |), ranked AS (
      |  SELECT q_id, vec_id AS n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, cosine, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Deterministic pseudo-random hyperplane params for bit j. */
  private def hyper(j: Int): (Long, Long) =
    (Dedup.lshA(j % 8) + 13L * (j / 8), Dedup.lshB(j % 8) + 7L * (j / 8))

  /** Sign-bit fingerprint as an array-native expression: bit_j = sign of
    * <v, r_j> with r_j[i] = ((a_j·(i+1) + b_j) mod 1009)/1009 − 0.5. The
    * projection accumulates exact decimals, so the sign is deterministic. */
  private def fingerprint16(emb: Column): Column = fingerprintBits(emb, 16)

  /** [[fingerprint16]] at a parametric width — the s11 sub-shard knob needs
    * wider fingerprints (2 bands × b bits) when bucket count scales with
    * the corpus; `hyper(j)` is defined for any j. */
  private def fingerprintBits(emb: Column, nbits: Int): Column =
    (0 until nbits).map { j =>
      val (a, b) = hyper(j)
      def plane(i: Column) = ((lit(a) * i + lit(b)) % 1009).cast("double") / 1009.0 - 0.5
      val proj = aggregate(
          zip_with(emb, sequence(lit(1), lit(D)), (x, i) =>
            (x.cast("double") * plane(i)).cast(DEC)),
          lit(0).cast(DEC), (acc, x) => (acc + x).cast(DEC)).cast("double")
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Verified near-dup pairs (s2's result), MATERIALIZED once per
    * (session, sf-dir) and shared by every consumer — `s2_lsh_neardup`
    * itself and `Dedup.d5_embedding_neardup`. The fingerprint projection is
    * the expensive step (16 hyperplanes × 64 exact-decimal folds per row);
    * without the shared intermediate it would execute once per consumer in a
    * verify/bench cycle. In production this is a persisted staging table;
    * here `localCheckpoint` plays that role. */
  def s2Pairs(s: SparkSession, dir: String): DataFrame =
    stage(s, ("s2Pairs", dir))(
      s2PairsUncached(s, dir).localCheckpoint())

  /** S2 random-hyperplane LSH near-dup: 16 sign bits, 2×8-bit bands,
    * candidates verified with exact cosine ≥ 0.4 (unit vectors ⇒ dot =
    * cosine). */
  def s2_lsh_neardup(s: SparkSession, dir: String): DataFrame =
    s2Pairs(s, dir).orderBy("va", "vb")

  private def s2PairsUncached(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val fp = emb.select(col("vec_id"), fingerprint16(col("embedding")).as("fp"))
    val bnd = fp.select(col("vec_id"),
      explode(array((0 until 2).map(k =>
        struct(lit(k).as("k"), (shiftright(col("fp"), 8 * k) % 256).as("bv"))): _*)).as("nb"))
      .select(col("vec_id"), col("nb.k"), col("nb.bv"))
      .localCheckpoint() // self-joined below: avoid recomputing projections twice
    val cand = bnd.as("x").join(bnd.as("y"),
        col("x.k") === col("y.k") && col("x.bv") === col("y.bv") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    // The embeddings relation is UNBOUNDED (grows with the corpus): never
    // broadcast it. Shuffle equi-joins on va/vb — the LSH candidate table is
    // the bounded side, and AQE will broadcast IT if small enough.
    val ea = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    cand.join(ea, Seq("va")).join(eb, Seq("vb"))
      .withColumn("cosine", round4(dot(col("ea"), col("eb"))))
      .filter(col("cosine") >= 0.4)
      .select(col("va"), col("vb"), col("cosine"))
  }

  // lazy: computed on first use — Dedup.d5Sql references this while the two
  // companions otherwise deadlock in <clinit> when Similarity loads first
  lazy val s2Sql: String = {
    val bitSums = (0 until 16).map { j =>
      val (a, b) = hyper(j)
      s"CASE WHEN sum((v * ((($a * (i + 1) + $b) % 1009)::DOUBLE / 1009.0 - 0.5))::DECIMAL(30,20)) >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH $elemsSqlCte, fp AS (
      |  SELECT vec_id, ($bitSums)::BIGINT AS fp FROM e GROUP BY vec_id
      |), bnd AS (
      |  SELECT vec_id, k, (fp >> (8 * k)) % 256 AS bv
      |  FROM fp CROSS JOIN (SELECT unnest(range(2)) AS k)
      |), cand AS (
      |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      |  FROM bnd x JOIN bnd y ON x.k = y.k AND x.bv = y.bv AND x.vec_id < y.vec_id
      |), dots AS (
      |  SELECT c.va, c.vb, sum((a.v * b.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM cand c
      |  JOIN e a ON a.vec_id = c.va
      |  JOIN e b ON b.vec_id = c.vb AND b.i = a.i
      |  GROUP BY 1, 2)
      |SELECT va, vb, floor(dp * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM dots
      |WHERE floor(dp * 10000.0 + 0.5) / 10000.0 >= 0.4
      |ORDER BY va, vb""".stripMargin
  }

  /** S3 IVF-style routed top-k: coarse cells = per-label centroids; each
    * query routes to its nearest centroid (max dot) and searches only that
    * cell. k = 3. The corpus side is filtered to one cell before any pair
    * work — the partition-pruned ANN shape. */
  /** (label, cemb) per-label centroid arrays — s3's coarse cells, factored
    * out so the streaming ANN twin (x26) routes through byte-identical
    * centroids. Exact-decimal per-dimension means, the oracle's `cent`
    * CTE verbatim. One Aggregate per level: structurally bounded (one row
    * per label). */
  private[graft] def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg((sum(col("v").cast("double").cast("decimal(38,30)")).cast("double")
            / count(lit(1))).as("cv"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("cv")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("cv")).as("cemb"))

  def s3_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val routed = labelRoutes(s, dir, 1).select(col("q_id"), col("qemb"), col("label"))
    emb.join(broadcast(routed), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round4(dot(col("embedding"), col("qemb"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("label").as("cell"), col("vec_id").as("n_id"),
              col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val s3Sql: String =
    s"""WITH $elemsSqlCte, cent AS (
      |  SELECT label, i, sum(v::DECIMAL(38,30))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM e GROUP BY 1, 2
      |), q AS (
      |  SELECT vec_id AS q_id, i, v AS qv FROM e WHERE vec_id % 100 = 0
      |), q2c AS (
      |  SELECT q_id, label, sum((qv * cv)::DECIMAL(30,20))::VARCHAR::DOUBLE AS cdp
      |  FROM q JOIN cent USING (i) GROUP BY 1, 2
      |), routed AS (
      |  SELECT q_id, label FROM (
      |    SELECT q_id, label,
      |      row_number() OVER (PARTITION BY q_id ORDER BY cdp DESC, label) AS rn
      |    FROM q2c) WHERE rn = 1
      |), dots AS (
      |  SELECT q.q_id, r.label, d.vec_id,
      |         sum((q.qv * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM q JOIN routed r USING (q_id)
      |  JOIN e d ON d.i = q.i AND d.label = r.label AND d.vec_id <> q.q_id
      |  GROUP BY 1, 2, 3
      |), ranked AS (
      |  SELECT q_id, label AS cell, vec_id AS n_id,
      |    floor(dp * 10000.0 + 0.5) / 10000.0 AS cosine,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY floor(dp * 10000.0 + 0.5) / 10000.0 DESC, vec_id) AS rank
      |  FROM dots)
      |SELECT q_id, cell, n_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Squared euclidean distance between two float-array columns with
    * exact-decimal accumulation: (x−c)² is computed in double — identical in
    * both engines — and each addend is quantized before the
    * order-independent sum. */
  private[graft] def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, c) => {
        val d = x.cast("double") - c
        (d * d).cast(DEC)
      }),
      lit(0).cast(DEC), (acc, x) => (acc + x).cast(DEC)).cast("double")

  /** Rebuild (cluster, cemb array) rows from long-form (cluster, i, cv). */
  private def toArrays(longForm: DataFrame): DataFrame =
    longForm.groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("i"), col("cv")))).as("p"))
      .select(col("cluster"), transform(col("p"), x => x.getField("cv")).as("cemb"))

  /** S4: IVF coarse-quantizer TRAINING — k-means (Lloyd) run entirely in
    * the engine: k = 10 centroids seeded from vec_id 0..9, two iterations of
    * assign-to-nearest (squared euclidean, ties to the lower cluster id) and
    * per-dimension exact-decimal mean recomputation. Fully relational — the
    * corpus is never collected; each iteration is one broadcast of the 10
    * centroid rows against the scan (corpus ×10 intermediate, array-native
    * distances — never ×64) plus one (cluster, dim) aggregation. This is the
    * training loop that produces s3-style IVF cells at 100 TB; the DuckDB
    * oracle unrolls both iterations symbolically. Output: the trained
    * centroids in long form (cluster, i, cv). */
  def s4_kmeans_train(s: SparkSession, dir: String): DataFrame =
    trainCoarse(s, dir)
      .select(col("cluster"), posexplode(col("cemb")).as(Seq("i", "cv")))
      .select(col("cluster"), col("i").cast("long").as("i"), round4(col("cv")).as("cv"))
      .orderBy("cluster", "i")

  /** The s4 training loop itself, returning the UNROUNDED trained centroids
    * as (cluster, cemb array) — s4 rounds them for its output; s7 routes
    * through them at full double precision (the oracle's unrolled c2 CTE is
    * the same unrounded value). Distances and per-dim means are both
    * exact-decimal folds.
    *
    * `k` defaults to the 10 cells every oracle unrolls symbolically; the
    * loop itself is k-agnostic (c2_semdedup exposes it as the
    * `spark.graft.semdedupK` scaling knob). */
  private def trainCoarse(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    // k-row checkpointed relations consumed by s4/s7/s10/s13/s14/c2 and
    // x38's router: one training pass per (session, dir, k)
    stage(s, ("coarse", dir, k))(
      trainCoarseOn(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), k))

  /** The Lloyd loop over an arbitrary TRAINING relation (vec_id, embedding)
    * — the full corpus for [[trainCoarse]], a bounded sample for
    * [[c2_semdedup_ann]]'s production-k path (training cost O(|sample|·k),
    * independent of the corpus). */
  private[graft] def trainCoarseOn(emb: DataFrame, k: Int): DataFrame = {
    var centroids = graft.plans.BroadcastContract.boundedCheckpoint(
      emb.filter(col("vec_id") < k) // deterministic seed
        .select(col("vec_id").cast("long").as("cluster"), col("embedding").as("cemb")),
      s"k-means seed: $k rows by construction")
    for (_ <- 1 to 2) {
      val assigned = assignToNearest(emb, centroids)
        .select(col("vec_id"), col("cluster"), col("embedding"))
      val longForm = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("cluster"), col("i"))
        .agg((sum(col("v").cast("double").cast("decimal(38,30)")).cast("double")
              / count(lit(1))).as("cv"))
      centroids = graft.plans.BroadcastContract.boundedCheckpoint(
        toArrays(longForm), s"k-means centroids: k <= $k clusters by seeding")
    }
    centroids
  }

  /** The `p` nearest entries of `cents` to the vector `v`: the one
    * nearest-centroid decision of every router, batch and streaming.
    *
    * `cents` is an `array<struct<cluster, cemb>>` (a broadcast one-row
    * `collect_list`, or a [[centroidLit]]); `dist(v, cemb)` is the metric,
    * smaller meaning nearer (label routing passes the negated dot). The
    * result is `array<struct<dist, cluster, cemb>>` sorted by
    * (dist, cluster), so ties go to the lower cluster id and position i is
    * probe rank i. Each distance is computed once per row, with no shuffle.
    *
    * An empty `cents` fails the query with `INVALID_ARRAY_INDEX_IN_ELEMENT_AT`
    * (ANSI `element_at` on its first entry) at every `p`, instead of routing
    * nowhere (`AssignToNearestSpec`). */
  private[graft] def nearest(v: Column, cents: Column, p: Int,
                             dist: (Column, Column) => Column): Column = {
    val checked = when(element_at(cents, 1).isNotNull, cents)
    slice(array_sort(transform(checked, c =>
      struct(dist(v, c.getField("cemb")).as("dist"), c.getField("cluster").as("cluster"),
             c.getField("cemb").as("cemb")))), 1, p)
  }

  /** One entry of a literal [[nearest]] centroid array. */
  private[graft] case class Centroid(cluster: Long, cemb: Seq[Double])

  /** A collected bounded centroid table as one literal `cents` array for
    * [[nearest]] — a single literal node, whatever the table's size. */
  private[graft] def centroidLit(rows: Seq[(Long, Seq[Double])]): Column =
    typedlit(rows.map { case (c, e) => Centroid(c, e) })

  /** Label routing's metric: the negated dot, so the largest dot is nearest. */
  private[graft] def negDot(a: Column, b: Column): Column = -dot(a, b)

  /** Every row of `points` routed to its `p` nearest `centroids`
    * (cluster, cemb) under `dist`, through [[nearest]] over the broadcast
    * one-row centroid array: one row per (point, probe), `points`' columns
    * plus probe (1 = nearest), cluster, cemb and dist. */
  private[graft] def routeNearest(points: DataFrame, v: Column, centroids: DataFrame,
                                  p: Int, dist: (Column, Column) => Column): DataFrame = {
    val cs = centroids.agg(collect_list(struct(col("cluster"), col("cemb"))).as("_cs"))
    points.crossJoin(broadcast(cs))
      .select(points.columns.map(col) :+
        posexplode(nearest(v, col("_cs"), p, dist)).as(Seq("_pos", "_n")): _*)
      .select(points.columns.map(col) ++ Seq((col("_pos") + 1).as("probe"),
        col("_n.cluster").as("cluster"), col("_n.cemb").as("cemb"),
        col("_n.dist").as("dist")): _*)
  }

  /** Nearest-centroid assignment (squared euclidean, ties to the lower
    * cluster id): all input columns plus (cluster, cemb). */
  private[graft] def assignToNearest(emb: DataFrame, centroids: DataFrame): DataFrame =
    routeNearest(emb, col("embedding"), centroids, 1, sqDist)
      .select(emb.columns.map(col) ++ Seq(col("cluster"), col("cemb")): _*)

  /** Queries (`vec_id % 100 = 0`) routed to their `p` nearest label cells
    * by dot product (larger is nearer, ties to the lower label):
    * (q_id, qemb, probe, label). */
  private def labelRoutes(s: SparkSession, dir: String, p: Int): DataFrame =
    routeNearest(
      Tables.embeddings(s, dir).filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qemb")),
      col("qemb"), labelCentroids(s, dir).withColumnRenamed("label", "cluster"), p, negDot)
      .select(col("q_id"), col("qemb"), col("probe"), col("cluster").as("label"))

  /** One Lloyd iteration as SQL over an element CTE (`e` = the full
    * corpus; `es` = c2-ann's bounded training sample): assign every
    * vector to its nearest `cPrev` centroid, emit the next centroids in
    * long form. Shared by the s4, s7, and c2-ann oracles. */
  private def assignAndMeanSql(cPrev: String, src: String = "e"): String =
    s"""  SELECT a.cluster, e.i,
       |         sum(e.v::DECIMAL(38,30))::VARCHAR::DOUBLE / count(*) AS cv
       |  FROM (
       |    SELECT vec_id, cluster FROM (
       |      SELECT e.vec_id, c.cluster,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
       |                   c.cluster) AS rn
       |      FROM $src e JOIN $cPrev c USING (i)
       |      GROUP BY e.vec_id, c.cluster)
       |    WHERE rn = 1) a
       |  JOIN $src e ON e.vec_id = a.vec_id
       |  GROUP BY 1, 2""".stripMargin

  /** The unrolled c0 (seed) → c1 → c2 coarse-training CTE chain — the
    * oracle twin of [[trainCoarse]] (c2 = the unrounded trained centroids). */
  private val coarseTrainCtes: String =
    s"""c0 AS (
       |  SELECT vec_id AS cluster, i, v AS cv FROM e WHERE vec_id < 10
       |), c1 AS (
       |${assignAndMeanSql("c0")}
       |), c2 AS (
       |${assignAndMeanSql("c1")}
       |)""".stripMargin

  val s4Sql: String =
    s"""WITH $elemsSqlCte, $coarseTrainCtes
       |SELECT cluster, i, floor(cv * 10000.0 + 0.5) / 10000.0 AS cv
       |FROM c2 ORDER BY cluster, i""".stripMargin

  /** S5 product-quantization ANN (the IVF-PQ compression half): split the
    * 64-dim space into 8 subspaces of 8 dims, encode every vector as its
    * nearest codebook centroid PER SUBSPACE (8 small codes instead of 64
    * floats — the ~32× memory compression that lets a 100 TB corpus's index
    * fit in RAM), and answer queries by Asymmetric Distance Computation:
    * per-query lookup tables of query↔centroid subspace distances, scored
    * by an integer table-lookup SUM — no float math at scan time.
    *
    * Codebook here = the subvectors of 4 fixed anchor vectors (deterministic
    * stand-in for a trained codebook — s4 demonstrates in-engine k-means
    * training; composing them is a parameter choice, not new machinery).
    *
    * Scale shape: encoding is one groupBy over (vec, subspace, centroid)
    * candidates; the LUT is queries×8×4 rows — bounded, broadcast (same
    * contract as s1's query side); the ADC scan is one equi-join on
    * (subspace, code) + an integer-sum aggregation. Cross-engine exactness:
    * per-subspace distances are exact-decimal sums; LUT entries floor to an
    * integer micro-grid, so ADC scores are exact 64-bit sums. */
  def s5_pq_topk(s: SparkSession, dir: String): DataFrame =
    pqAdcTop5(pqCand(pqSub(s, dir), pqAnchors(pqSub(s, dir))))

  /** (vec_id, subspace j, dim i, v) elements of every embedding. */
  private def pqSub(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), expr("i div 8").as("j"), col("i"),
              col("v").cast("double").as("v"))

  /** Anchor codebook: the subvectors of 4 fixed vectors as (c, j, i, cv). */
  private def pqAnchors(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id").isin(1, 2, 3, 4))
      .select(col("vec_id").as("c"), col("j"), col("i"), col("v").as("cv"))

  /** Every (vector, subspace, centroid) candidate distance — exact-decimal
    * subspace fold against a (c, j, i, cv) codebook; MATERIALIZED by
    * default (the encoder argmin and the query LUTs both consume it) —
    * `materialize = false` for single-consumer stages (ivfpqScored's enc0
    * pass), where the checkpoint is only a barrier. */
  private def pqCand(sub: DataFrame, cb: DataFrame,
                     materialize: Boolean = true): DataFrame = {
    val cand = sub.join(cb, Seq("j", "i"))
      .groupBy(col("vec_id"), col("j"), col("c"))
      .agg(sum(((col("v") - col("cv")) * (col("v") - col("cv"))).cast(DEC))
        .cast("double").as("sqd"))
    if (materialize) cand.localCheckpoint() else cand
  }

  /** Argmin code per (vector, subspace); ties to the lower code id. */
  private def pqEncode(cand: DataFrame): DataFrame =
    cand.withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("j")).orderBy(col("sqd"), col("c"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("c"))

  /** ADC: encode the corpus, floor the query rows of the same candidate
    * table to integer-micro LUTs (bounded — broadcast, s1's query-side
    * contract), score by the (subspace, code) equi-join, keep top 5. */
  private def pqAdcTop5(cand: DataFrame): DataFrame = {
    val lut = cand.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("j"), col("c"),
              floor(col("sqd") * 1000000.0).cast("long").as("lm"))
    pqEncode(cand).join(broadcast(lut), Seq("j", "c"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("lm")).as("score_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("score_micro"), col("rank"))
      .orderBy("q_id", "rank")
  }

  // ---- shared SQL fragments mirroring the helpers above (the oracle twin
  // of each Spark helper, spliced into both the s5 and s6 oracles so a fix
  // to the micro-grid or tie-break lands in ONE place per engine) ----
  private val pqSubCte: String =
    s"""$elemsSqlCte, sub AS (
      |  SELECT vec_id, i // 8 AS j, i, v FROM e
      |)""".stripMargin
  private def pqCandCte(name: String, cb: String, src: String = "sub"): String =
    s"""$name AS (
      |  SELECT d.vec_id, d.j, $cb.c,
      |         sum(((d.v - $cb.cv) * (d.v - $cb.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE AS sqd
      |  FROM $src d JOIN $cb ON $cb.j = d.j AND $cb.i = d.i
      |  GROUP BY 1, 2, 3
      |)""".stripMargin
  private def pqEncCte(name: String, cand: String): String =
    s"""$name AS (
      |  SELECT vec_id, j, c FROM (
      |    SELECT vec_id, j, c,
      |      row_number() OVER (PARTITION BY vec_id, j ORDER BY sqd, c) AS rn
      |    FROM $cand) WHERE rn = 1
      |)""".stripMargin
  private def pqAdcSql(enc: String, cand: String): String =
    s"""lut AS (
      |  SELECT vec_id AS q_id, j, c, floor(sqd * 1000000.0)::BIGINT AS lm
      |  FROM $cand WHERE vec_id % 100 = 0
      |), sc AS (
      |  SELECT l.q_id, e.vec_id AS n_id, sum(l.lm)::BIGINT AS score_micro
      |  FROM $enc e JOIN lut l ON l.j = e.j AND l.c = e.c
      |  WHERE e.vec_id <> l.q_id GROUP BY 1, 2
      |), ranked AS (
      |  SELECT q_id, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc)
      |SELECT q_id, n_id, score_micro, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private val pqCb0Cte: String =
    """cb0 AS (
      |  SELECT vec_id AS c, j, i, v AS cv FROM sub WHERE vec_id IN (1, 2, 3, 4)
      |)""".stripMargin

  val s5Sql: String =
    s"""WITH $pqSubCte, $pqCb0Cte,
      |${pqCandCte("cand", "cb0")},
      |${pqEncCte("enc", "cand")},
      |${pqAdcSql("enc", "cand")}""".stripMargin

  /** S6 trained-codebook PQ — [[s5_pq_topk]] with the codebook TRAINED
    * in-engine: one Lloyd step refines the anchor codebook (per-subspace
    * k-means, the composition of s4's training machinery with s5's
    * encode/ADC machinery). Assignment under the anchor codebook → new
    * centroids = per-(subspace, code, dim) means of the assigned
    * subvectors → re-encode and score against the refined codebook.
    *
    * Cross-engine exactness carries through training: subvector sums
    * accumulate in exact decimal, the mean is ONE double division of the
    * decimal-exact sum (cast first, divide second — replicated verbatim in
    * the oracle), and refined distances re-enter the decimal fold. A
    * centroid that attracts no vectors drops out in both engines (inner
    * joins). Plan adds two shuffles over s5: the assignment join and the
    * mean aggregation — still linear in corpus size. */
  def s6_pq_trained(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(s, dir)
      .localCheckpoint() // consumed by anchor distances, training, re-encode
    val enc0 = pqEncode(pqCand(sub, pqAnchors(sub)))
    // Lloyd step: refined centroid = mean of assigned subvectors per dim
    val cb1 = sub.join(enc0, Seq("vec_id", "j"))
      .groupBy(col("j"), col("c"), col("i"))
      .agg((sum(col("v").cast(DEC)).cast("double") / count(lit(1))).as("cv"))
    pqAdcTop5(pqCand(sub, cb1))
  }

  val s6Sql: String =
    s"""WITH $pqSubCte, $pqCb0Cte,
      |${pqCandCte("cand0", "cb0")},
      |${pqEncCte("enc0", "cand0")},
      |cb1 AS (
      |  SELECT s.j, e.c, s.i,
      |         sum((s.v)::DECIMAL(30,20))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM sub s JOIN enc0 e ON e.vec_id = s.vec_id AND e.j = s.j
      |  GROUP BY 1, 2, 3
      |),
      |${pqCandCte("cand1", "cb1")},
      |${pqEncCte("enc1", "cand1")},
      |${pqAdcSql("enc1", "cand1")}""".stripMargin


  /** S7 full IVF-PQ top-k — the real two-level ANN index, composed from the
    * machinery s3-s6 built piecewise: a TRAINED coarse quantizer (s4's
    * two-iteration Lloyd loop) routes every vector — corpus and queries —
    * to a cell; vectors are re-expressed as RESIDUALS against their cell
    * centroid (the residual distribution is tighter than the raw space, so
    * the same codebook budget quantizes it better — the reason production
    * IVF-PQ encodes residuals); one shared residual codebook (anchor
    * subvectors + one Lloyd refinement step, s6's training) PQ-encodes the
    * residuals; queries ADC-score ONLY their own cell (single-probe) with
    * integer LUT sums.
    *
    * Scale shape: training/assignment broadcast 10 centroid rows against
    * the scan; residuals are a per-row projection; the codebook is 8×4
    * subvector rows; the LUT is queries×8×4 under the declared bounded
    * query-side contract; the ADC scan is one equi-join on (cell, j, code)
    * against that bounded LUT — the corpus never shuffles except the
    * encode argmin's (vec, subspace) window. Cell pruning means each query
    * touches ~1/10 of the corpus codes at any scale.
    *
    * Cross-engine exactness: every stage reuses the already-proven
    * exact-decimal folds (assignment distances, residual subspace
    * distances, refined-centroid means) and the integer micro-grid LUT, so
    * the final integer ADC scores hash-match the oracle's unrolled CTE
    * chain bit-for-bit. */
  def s7_ivfpq_topk(s: SparkSession, dir: String): DataFrame =
    ivfpqScored(s, dir, nprobe = 1)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("cell"), col("vec_id").as("n_id"),
              col("score_micro"), col("rank"))
      .orderBy("q_id", "rank")

  /** The probe-independent trained IVF-PQ INDEX — coarse centroids, corpus
    * cell assignment, refined residual codebook, the full residual-subspace
    * candidate-distance table, and the encoded corpus codes. Four queries
    * consume it (s7, s10, s13, s16's IVF dense leg) and s14/c2 share its
    * coarse half via [[trainCoarse]]'s own staging; unstaged, each re-ran
    * training + assignment + residual encode from scratch (~33 s of the
    * 174-query bench). A production index is TRAINED ONCE and served
    * many times — it is staged per (session, dir) like
    * `s2Pairs`. The checkpoint-boundary concern that kept `bm25Postings`
    * lazy does not apply here: every staged piece was ALREADY
    * `localCheckpoint`ed inside a single query's dataflow (self-joined or
    * multi-consumed), so staging adds no new optimizer barrier — only
    * reuse. */
  private[graft] case class IvfPqIndex(coarse: DataFrame, asg: DataFrame,
                                       cb1: DataFrame, cand1: DataFrame,
                                       codes: DataFrame)

  private def ivfpqIndex(s: SparkSession, dir: String): IvfPqIndex =
    stage(s, ("ivfpq", dir)) {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      buildIndexOn(emb, trainCoarse(s, dir))
    }

  /** Assignment + residual encode + codebook refinement against an
    * arbitrary corpus relation and trained coarse quantizer — the full
    * index build, shared by [[ivfpqIndex]] (whole corpus) and
    * [[ivfpqSettledIndex]] (the settled slice of s18's incremental
    * maintenance). */
  private def buildIndexOn(emb: DataFrame, coarse: DataFrame): IvfPqIndex = {
    // cell assignment for every vector (corpus side: nearest cell only)
    val asg = assignToNearest(emb, coarse)
      .select(col("vec_id"), col("cluster").as("cell"), col("embedding"), col("cemb"))
      .localCheckpoint() // consumed by residuals and the code-cell join
    // residual elements (vec_id, cell, j, i, v): v − centroid[cell], long form
    val res = asg.select(col("vec_id"), col("cell"),
        posexplode(zip_with(col("embedding"), col("cemb"),
          (x, c) => x.cast("double") - c)).as(Seq("i", "v")))
      .select(col("vec_id"), col("cell"), expr("i div 8").as("j"), col("i"), col("v"))
      .localCheckpoint()
    val sub = res.select(col("vec_id"), col("j"), col("i"), col("v"))
    // residual codebook: anchor subvectors refined by one Lloyd step (s6)
    val cb0 = sub.filter(col("vec_id").isin(1, 2, 3, 4))
      .select(col("vec_id").as("c"), col("j"), col("i"), col("v").as("cv"))
    val enc0 = pqEncode(pqCand(sub, cb0, materialize = false))
    val cb1 = graft.plans.BroadcastContract.boundedCheckpoint(
      sub.join(enc0, Seq("vec_id", "j"))
        .groupBy(col("j"), col("c"), col("i"))
        .agg((sum(col("v").cast(DEC)).cast("double") / count(lit(1))).as("cv")),
      "refined residual codebook: ≤ 8×4×8 rows by construction")
      // shared by cand1 + multi-probe LUTs; registered bounded so x34's
      // replicate-bounded-state collect passes the structural walk
    val cand1 = pqCand(sub, cb1) // checkpointed; encoder + 1-probe LUT share it
    val codes = pqEncode(cand1)
      // cell lookup from the 1-row-per-vector asg, not a |res|-row distinct
      .join(asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .localCheckpoint() // the served codes: argmin window runs once, not per query
    IvfPqIndex(coarse, asg, cb1, cand1, codes)
  }

  /** The IVF-PQ candidate-scoring pipeline shared by [[s7_ivfpq_topk]]
    * (single-probe), [[s10_ivfpq_recall]] (1- vs 2-probe audit), and the
    * retrieval legs ([[s13_ivfpq_rerank]], [[s16_hybrid_rrf_ivf]] — `qmod`
    * widens the bounded query contract to their workloads): the corpus-side
    * index comes from [[ivfpqIndex]]; queries route to their `nprobe`
    * nearest cells, compute a residual against EACH probed cell's centroid
    * (proper multi-probe — the residual basis changes per cell), and
    * ADC-score that cell's codes. Returns the full pre-rank scored relation
    * (q_id, probe, cell, vec_id, score_micro) — callers rank/limit. */
  private def ivfpqScored(s: SparkSession, dir: String, nprobe: Int,
                          qmod: Int = 100): DataFrame = {
    val idx = ivfpqIndex(s, dir)
    // Single-probe fast path: a query's probe-1 cell IS its corpus
    // assignment (both route through `nearest` with the same metric), so the
    // probe-1 residual equals the corpus residual and the per-(query, j, c)
    // subspace distances are exactly the rows cand1 already holds — read the
    // LUT off the checkpointed candidate table instead of recomputing
    // route → residual → fold.
    val lut = if (nprobe == 1)
      idx.cand1.filter(col("vec_id") % qmod === 0)
        .join(idx.asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .select(col("vec_id").as("q_id"), lit(1L).as("probe"), col("cell"),
                col("j"), col("c"),
                floor(col("sqd") * 1000000.0).cast("long").as("lm"))
    else {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // query routing: the nprobe nearest cells, probe rank attached
      val qroute = routeNearest(emb.filter(col("vec_id") % qmod === 0), col("embedding"),
          idx.coarse, nprobe, sqDist)
        .select(col("vec_id").as("q_id"), col("probe").cast("long").as("probe"),
                col("cluster").as("cell"), col("embedding"), col("cemb"))
      // per-(query, probed cell) residuals — the residual basis is the PROBED
      // cell's centroid (for probe 1 this is bit-identical to the corpus
      // residual, which is what the nprobe == 1 branch above exploits)
      val qres = qroute.select(col("q_id"), col("probe"), col("cell"),
          posexplode(zip_with(col("embedding"), col("cemb"),
            (x, c) => x.cast("double") - c)).as(Seq("i", "v")))
        .select(col("q_id"), col("probe"), col("cell"),
                expr("i div 8").as("j"), col("i"), col("v"))
      // integer micro-grid LUT per (query, probed cell, subspace, code)
      qres.join(idx.cb1, Seq("j", "i"))
        .groupBy(col("q_id"), col("probe"), col("cell"), col("j"), col("c"))
        .agg(sum(((col("v") - col("cv")) * (col("v") - col("cv"))).cast(DEC))
          .cast("double").as("sqd"))
        .select(col("q_id"), col("probe"), col("cell"), col("j"), col("c"),
                floor(col("sqd") * 1000000.0).cast("long").as("lm"))
    }
    idx.codes.join(broadcast(lut), Seq("cell", "j", "c")) // cell-pruned ADC scan
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("probe"), col("cell"), col("vec_id"))
      .agg(sum(col("lm")).as("score_micro"))
  }

  /** The full single-probe IVF-PQ ADC chain as SQL CTEs, through the
    * pre-rank scored relation `sc (q_id, cell, n_id, score_micro)` —
    * shared by the s7 (rank ≤ 5) and s13 (shortlist ≤ 10 → exact re-rank)
    * oracles. The query-side modulus is a TEMPLATE PARAMETER, part of the
    * generated text, so a drift is a syntax error, not a silent
    * wrong-contract oracle (a post-hoc `.replace` on CTE text would
    * silently no-op if the spliced predicate were ever reworded). */
  private def ivfpqAdcCtesAt(qmod: Int): String =
    s"""$elemsSqlCte, $coarseTrainCtes, asg AS (
      |  SELECT vec_id, cluster AS cell FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), sub AS (
      |  SELECT e.vec_id, e.i // 8 AS j, e.i, e.v - c.cv AS v
      |  FROM e JOIN asg a USING (vec_id) JOIN c2 c ON c.cluster = a.cell AND c.i = e.i
      |), $pqCb0Cte,
      |${pqCandCte("cand0", "cb0")},
      |${pqEncCte("enc0", "cand0")},
      |cb1 AS (
      |  SELECT s.j, en.c, s.i,
      |         sum((s.v)::DECIMAL(30,20))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM sub s JOIN enc0 en ON en.vec_id = s.vec_id AND en.j = s.j
      |  GROUP BY 1, 2, 3
      |),
      |${pqCandCte("cand1", "cb1")},
      |${pqEncCte("enc1", "cand1")},
      |qcell AS (
      |  SELECT vec_id AS q_id, cell FROM asg WHERE vec_id % $qmod = 0
      |), lut AS (
      |  SELECT ca.vec_id AS q_id, qc.cell, ca.j, ca.c,
      |         floor(ca.sqd * 1000000.0)::BIGINT AS lm
      |  FROM cand1 ca JOIN qcell qc ON qc.q_id = ca.vec_id
      |), codes AS (
      |  SELECT en.vec_id, a.cell, en.j, en.c FROM enc1 en JOIN asg a USING (vec_id)
      |), sc AS (
      |  SELECT l.q_id, l.cell, d.vec_id AS n_id, sum(l.lm)::BIGINT AS score_micro
      |  FROM codes d JOIN lut l ON l.cell = d.cell AND l.j = d.j AND l.c = d.c
      |  WHERE d.vec_id <> l.q_id GROUP BY 1, 2, 3
      |)""".stripMargin

  private val ivfpqAdcCtes: String = ivfpqAdcCtesAt(100)

  /** Multi-probe generalization of [[ivfpqAdcCtesAt]]: query routing ranks
    * ALL cells per query (`probe` = rank), keeps `probe <= nprobe`, and the
    * per-(query, probed cell) residual LUT uses the PROBED cell's centroid
    * as the residual basis — the pre-rank scored relation
    * `sc (q_id, probe, n_id, score_micro)` carries the probe rank so
    * downstream CTEs can grade any probe width ≤ `nprobe` from ONE chain
    * (`WHERE probe = 1` is bit-identical to the single-probe chain: a
    * query's probe-1 cell is its corpus assignment and the folds are
    * exact-decimal — the equivalence [[s10_ivfpq_recall]]'s oracle
    * hash-checks). Shared by the s10 audit and the multi-probe SERVING
    * oracles (s16-ivf, s17-ivf, s19), which serve [[ServingNprobe]]
    * (2) probes. */
  private def ivfpqAdcCtesMp(qmod: Int, nprobe: Int): String =
    s"""$elemsSqlCte, $coarseTrainCtes, asg AS (
      |  SELECT vec_id, cluster AS cell FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), sub AS (
      |  SELECT e.vec_id, e.i // 8 AS j, e.i, e.v - c.cv AS v
      |  FROM e JOIN asg a USING (vec_id) JOIN c2 c ON c.cluster = a.cell AND c.i = e.i
      |), $pqCb0Cte,
      |${pqCandCte("cand0", "cb0")},
      |${pqEncCte("enc0", "cand0")},
      |cb1 AS (
      |  SELECT s.j, en.c, s.i,
      |         sum((s.v)::DECIMAL(30,20))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM sub s JOIN enc0 en ON en.vec_id = s.vec_id AND en.j = s.j
      |  GROUP BY 1, 2, 3
      |),
      |${pqCandCte("cand1", "cb1")},
      |${pqEncCte("enc1", "cand1")},
      |codes AS (
      |  SELECT en.vec_id, a.cell, en.j, en.c FROM enc1 en JOIN asg a USING (vec_id)
      |), qroute AS (
      |  SELECT vec_id AS q_id, probe, cluster AS cell FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS probe
      |    FROM e JOIN c2 c USING (i)
      |    WHERE e.vec_id % $qmod = 0
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE probe <= $nprobe
      |), qres AS (
      |  SELECT r.q_id, r.probe, r.cell, e.i // 8 AS j, e.i, e.v - c.cv AS v
      |  FROM e JOIN qroute r ON r.q_id = e.vec_id
      |  JOIN c2 c ON c.cluster = r.cell AND c.i = e.i
      |), lut AS (
      |  SELECT r.q_id, r.probe, r.cell, r.j, cb.c,
      |    floor(sum(((r.v - cb.cv) * (r.v - cb.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0)::BIGINT AS lm
      |  FROM qres r JOIN cb1 cb ON cb.j = r.j AND cb.i = r.i
      |  GROUP BY 1, 2, 3, 4, 5
      |), sc AS (
      |  SELECT l.q_id, l.probe, d.vec_id AS n_id, sum(l.lm)::BIGINT AS score_micro
      |  FROM codes d JOIN lut l ON l.cell = d.cell AND l.j = d.j AND l.c = d.c
      |  WHERE d.vec_id <> l.q_id GROUP BY 1, 2, 3
      |)""".stripMargin

  val s7Sql: String =
    s"""WITH $ivfpqAdcCtes, ranked AS (
      |  SELECT q_id, cell, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc)
      |SELECT q_id, cell, n_id, score_micro, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** S13: IVF-PQ with EXACT RE-RANK — the FAISS-style "refine" stage every
    * production ANN deployment bolts onto a PQ index: the quantized ADC
    * scores are cheap but lossy, so the index returns a SHORTLIST (here the
    * ADC top-10 per query, s7's machinery at nprobe = 1) and the engine
    * re-scores only those candidates against the RAW vectors, emitting the
    * exact top-5. Re-ranking recovers most of the recall PQ loses while
    * touching R = 10 raw vectors per query instead of the whole corpus —
    * the standard accuracy/IO trade (Jégou et al., "Searching with
    * quantization", the IVFADC+R variant).
    *
    * Scale shape: the shortlist is |Q|·R scalar rows (bounded by the
    * declared query-side contract); joining it back to raw embeddings is
    * one broadcast-able join against the corpus scan (the corpus never
    * shuffles — AQE broadcasts the shortlist side), the query vectors are
    * the bounded broadcast s1 already declared, and the exact distance is
    * one array-native fold per shortlist row. The re-rank window receives
    * scalar columns only (the s11 narrow-shuffle contract).
    *
    * Cross-engine: the exact re-rank distance reuses the proven
    * exact-decimal squared-distance fold on an integer micro-grid, so
    * ranks hash-match the oracle bit-for-bit. */
  def s13_ivfpq_rerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val short = ivfpqScored(s, dir, nprobe = 1)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))).cast("long"))
      .filter(col("adc_rank") <= 10)
      .select(col("q_id"), col("vec_id").as("n_id"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
    short
      .join(emb.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sqd_micro",
        floor(sqDist(col("embedding"), col("qemb")) * 1000000.0 + 0.5).cast("long"))
      .select(col("q_id"), col("n_id"), col("sqd_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sqd_micro"), col("n_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("q_id", "rank")
  }

  val s13Sql: String =
    s"""WITH $ivfpqAdcCtes, ranked AS (
      |  SELECT q_id, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc
      |), short AS (
      |  SELECT q_id, n_id FROM ranked WHERE rank <= 10
      |), rr AS (
      |  SELECT sh.q_id, sh.n_id,
      |    floor(sum(((eq.v - ed.v) * (eq.v - ed.v))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0 + 0.5)::BIGINT AS sqd_micro
      |  FROM short sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2
      |), rr2 AS (
      |  SELECT q_id, n_id, sqd_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sqd_micro, n_id) AS rank
      |  FROM rr)
      |SELECT q_id, n_id, sqd_micro, rank FROM rr2
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** S8: ANN recall audit — the metrological query every production ANN
    * deployment runs: per query, how many of the EXACT top-3 neighbors
    * (s1's brute-force baseline, the ground truth) did the IVF index (s3)
    * return? recall@3 = |IVF ∩ exact| / 3. Single-cell IVF routing trades
    * recall for the 1/cells fan-out cut, and this query MEASURES the trade
    * instead of asserting it — the audit runs on a sampled query set at
    * scale (here the bounded `vec_id % 100` contract both sides already
    * share). Cost = the two underlying searches; the audit join itself is
    * |Q|·k rows on both sides. */
  def s8_recall_audit(s: SparkSession, dir: String): DataFrame = {
    val exact3 = s1_ann_topk(s, dir).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val ivf = s3_ivf_topk(s, dir)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    exact3.join(ivf, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("hit")).as("hits"))
      .select(col("q_id"), col("hits"),
              round4(col("hits").cast("double") / 3.0).as("recall_at_3"))
      .orderBy("q_id")
  }

  val s8Sql: String =
    s"""WITH ex AS (
       |$s1Sql
       |), iv AS (
       |$s3Sql
       |)
       |SELECT e.q_id, count(i.n_id)::BIGINT AS hits,
       |  floor(count(i.n_id)::DOUBLE / 3.0 * 10000.0 + 0.5) / 10000.0 AS recall_at_3
       |FROM ex e
       |LEFT JOIN iv i ON e.q_id = i.q_id AND e.n_id = i.n_id
       |WHERE e.rank <= 3
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S10: recall/cost audit for the COMPOSED index — s8 audits s3's
    * single-probe coarse routing alone; this measures the full IVF-PQ
    * stack's compounded loss (coarse routing + residual PQ quantization)
    * against the exact top-3 ground truth, at BOTH probe widths in one
    * result: per query, recall@3 and the candidate-scan cost (corpus codes
    * ADC-scored) for single-probe and 2-probe search. The recall/cost trade
    * production tunes nprobe by, MEASURED rather than asserted: 2-probe
    * roughly doubles cand_* and recovers the neighbors that straddle a cell
    * boundary. The audit join itself is |Q|·k rows per side; cost columns
    * come from the pre-rank scored relation, not an extra pass. */
  def s10_ivfpq_recall(s: SparkSession, dir: String): DataFrame = {
    val exact3 = s1_ann_topk(s, dir).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val scored = ivfpqScored(s, dir, nprobe = 2).localCheckpoint()
    def audit(maxProbe: Int, tag: String): DataFrame = {
      val sc = scored.filter(col("probe") <= maxProbe)
      val top5 = sc.withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id").as("n_id"), lit(1).as("hit"))
      val cost = sc.groupBy(col("q_id")).agg(count(lit(1)).as(s"cand_$tag"))
      exact3.join(top5, Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as(s"hits_$tag"))
        .withColumn(s"recall_$tag",
          round4(col(s"hits_$tag").cast("double") / 3.0))
        .join(cost, Seq("q_id"))
    }
    audit(1, "1p").join(audit(2, "2p"), Seq("q_id"))
      .select(col("q_id"), col("hits_1p"), col("recall_1p"), col("cand_1p"),
              col("hits_2p"), col("recall_2p"), col("cand_2p"))
      .orderBy("q_id")
  }

  /** The s10 oracle: ONE unrolled CTE chain — shared corpus encode, probe-
    * ranked query routing, per-probed-cell residual LUTs — with the 1-probe
    * side a `probe = 1` filter of the same scored relation (exactly the
    * Spark dataflow). */
  val s10Sql: String =
    s"""WITH ${ivfpqAdcCtesMp(100, 2)}, p1 AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |    FROM sc WHERE probe = 1) WHERE rank <= 5
      |), p2 AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |    FROM sc) WHERE rank <= 5
      |), cost1 AS (
      |  SELECT q_id, count(*) AS cand_1p FROM sc WHERE probe = 1 GROUP BY 1
      |), cost2 AS (
      |  SELECT q_id, count(*) AS cand_2p FROM sc GROUP BY 1
      |), ex AS (
      |$s1Sql
      |)
      |SELECT e.q_id,
      |  count(a.n_id)::BIGINT AS hits_1p,
      |  floor(count(a.n_id)::DOUBLE / 3.0 * 10000.0 + 0.5) / 10000.0 AS recall_1p,
      |  min(c1.cand_1p)::BIGINT AS cand_1p,
      |  count(b.n_id)::BIGINT AS hits_2p,
      |  floor(count(b.n_id)::DOUBLE / 3.0 * 10000.0 + 0.5) / 10000.0 AS recall_2p,
      |  min(c2_.cand_2p)::BIGINT AS cand_2p
      |FROM ex e
      |LEFT JOIN p1 a ON a.q_id = e.q_id AND a.n_id = e.n_id
      |LEFT JOIN p2 b ON b.q_id = e.q_id AND b.n_id = e.n_id
      |JOIN cost1 c1 ON c1.q_id = e.q_id
      |JOIN cost2 c2_ ON c2_.q_id = e.q_id
      |WHERE e.rank <= 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** C2 SemDeDup — SEMANTIC deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embedding space with the trained coarse
    * quantizer (s4's k-means), consider near-duplicate pairs only where
    * both members land in the SAME cell, and of each such pair keep the
    * member FARTHEST from its cluster centroid — the paper's
    * keep-the-outlier rule (the prototypical member carries the least
    * marginal information for training). This removes semantically
    * redundant documents that exact dedup (d1) and lexical near-dup (d3)
    * both miss — and unlike s2's banded LSH (whose 2×8-bit bands recall
    * only ~5% of cosine-0.4 pairs), the within-cell search is EXHAUSTIVE,
    * exactly as the paper specifies.
    *
    * Scale shape: the pairwise stage is scoped to clusters — SemDeDup's
    * contract is that k grows with the corpus so the per-cell pair block
    * stays constant-size (n²/k work, not n²); the self-join shuffles on
    * the cell key only and the 10-row centroid relation is the only
    * broadcast. The verify is TWO-STAGE (d7's discipline): a native
    * codegen'd double-dot prefilter at 0.3999 — provably lossless, since
    * a 64-term double dot errs by ≲1e-13 while the exact cosine must
    * clear 0.39995 to round to the 0.40 gate, so no qualifying pair can
    * fall below the margin — then the exact-decimal oracle fold only on
    * the bounded survivors. Survivor rule: the pair's more-prototypical
    * member (smaller exact centroid distance) is dropped; ties drop the
    * higher vec_id. Output: every vector with its cell, rounded centroid
    * distance, and the kept verdict — the scan-time filter signal a
    * corpus prune applies. */
  def c2_semdedup(s: SparkSession, dir: String): DataFrame = {
    // The scaling knob: holding the per-cell pair block constant means
    // growing k with the corpus (k = n / target cell size — the SemDeDup
    // deployment contract); k ∝ n keeps the mean cell size fixed and turns
    // the quadratic pair mass linear with no dataflow change. The cost then
    // moves to the n·k Lloyd assignment, which c2_semdedup_ann bounds by
    // training on a sample and assigning through a two-level route. The
    // oracle unrolls the default k = 10 symbolically, so any other k trades
    // oracle hash-equality for the scaled shape; the dataflow is identical
    // at any k.
    val k = s.conf.get("spark.graft.semdedupK", "10").toInt
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val coarse = trainCoarse(s, dir, k)
    // (vec_id, cell, embedding, exact centroid sq-distance, squared norm) —
    // consumed by both pair sides and the final verdict join; staged once
    val asg = routeNearest(emb, col("embedding"), coarse, 1, sqDist)
      .withColumn("n2", dot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("cluster").as("cell"), col("embedding"),
              col("dist"), col("n2"))
      .localCheckpoint()
    semdedupPrune(asg)
  }

  /** The within-cell pair search + keep-the-outlier verdict shared by
    * [[c2_semdedup]] and [[c2_semdedup_ann]] — `asg` is the checkpointed
    * (vec_id, cell, embedding, dist, n2) assignment; everything after the
    * assignment is assignment-strategy-independent. */
  private def semdedupPrune(asg: DataFrame): DataFrame = {
    val aSide = asg.select(col("vec_id").as("va"), col("cell"),
      col("embedding").as("ea"), col("dist").as("da"), col("n2").as("na2"))
    val bSide = asg.select(col("vec_id").as("vb"), col("cell"),
      col("embedding").as("eb"), col("dist").as("db"), col("n2").as("nb2"))
    val removed = aSide.join(bSide, Seq("cell")).filter(col("va") < col("vb"))
      // stage 1: cheap native prefilter with a provably-safe margin
      .filter(graft.functions.dot_f32(col("ea"), col("eb"))
        / sqrt(col("na2") * col("nb2")) >= 0.3999)
      // stage 2: exact-decimal verify on the bounded survivors
      .withColumn("cosine",
        round4(dot(col("ea"), col("eb")) / sqrt(col("na2") * col("nb2"))))
      .filter(col("cosine") >= 0.4)
      .select(when(col("da") < col("db"), col("va"))
        .when(col("db") < col("da"), col("vb"))
        .otherwise(col("vb")).as("vec_id"))
      .distinct()
      .withColumn("hit", lit(1))
    asg.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), round4(col("dist")).as("cdist"),
              col("hit").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** Oracle: the unrolled coarse-training chain (c2 = trained centroids),
    * a dist-retaining assignment, the EXHAUSTIVE within-cell pair fold
    * (the double prefilter is lossless by the margin argument above, so
    * the oracle never needs it), and the same CASE prune rule. */
  val c2Sql: String =
    s"""WITH $elemsSqlCte, $coarseTrainCtes, asgd AS (
      |  SELECT vec_id, cluster AS cell, dist FROM (
      |    SELECT e.vec_id, c.cluster,
      |      sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE AS dist,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2
      |  FROM e GROUP BY 1
      |), pr AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb, a.dist AS da, b.dist AS db,
      |         sum((ea.v * eb.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM asgd a JOIN asgd b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
      |  GROUP BY 1, 2, 3, 4
      |), rem AS (
      |  SELECT DISTINCT CASE WHEN p.da < p.db THEN p.va
      |                       WHEN p.db < p.da THEN p.vb
      |                       ELSE p.vb END AS vec_id
      |  FROM pr p
      |  JOIN norms na ON na.vec_id = p.va
      |  JOIN norms nb ON nb.vec_id = p.vb
      |  WHERE floor(p.dp / sqrt(na.n2 * nb.n2) * 10000.0 + 0.5) / 10000.0 >= 0.4
      |)
      |SELECT a.vec_id, a.cell,
      |  floor(a.dist * 10000.0 + 0.5) / 10000.0 AS cdist,
      |  r.vec_id IS NULL AS kept
      |FROM asgd a LEFT JOIN rem r USING (vec_id)
      |ORDER BY a.vec_id""".stripMargin

  /** C2-ANN: SemDeDup at PRODUCTION k — the deployment shape of
    * [[c2_semdedup]] per the paper (Abbas et al. 2023 §3: "we cluster …
    * using faiss"): SemDeDup's contract grows k with the corpus to hold
    * the per-cell pair block constant, which makes the two exhaustive
    * passes c2 inherits from the harness the next quadratic — Lloyd
    * training touches n·k distances per iteration and assignment another
    * n·k (measured at sf1: 349.8 s exact vs 9.4 s at k = 100).
    * Production replaces both:
    *
    *  1. TRAIN ON A BOUNDED SAMPLE — the coarse quantizer learns cluster
    *     geometry from `vec_id < m` (m = `spark.graft.semdedupSample`,
    *     default 1024, deterministic so the oracle unrolls it), so
    *     training cost is O(m·k) — INDEPENDENT of the corpus. This is
    *     faiss's own `train()` contract (sample-based k-means).
    *  2. ASSIGN VIA AN ANN INDEX OVER THE CENTROIDS — instead of scoring
    *     every vector against all k centroids (n·k), the k centroids are
    *     themselves indexed by s3's routed-search shape: g pilot cells
    *     (the first g trained centroids, g = `spark.graft.semdedupRouteCells`,
    *     default 4) partition the centroid set by nearest-pilot; each
    *     corpus vector routes to its nearest pilot (g distances) and then
    *     scores ONLY that pilot's centroid group (~k/g distances) —
    *     per-vector work drops k → g + k/g (minimized at g = √k → 2√k;
    *     one more routing level gives 3·k^(1/3), log-depth in the limit —
    *     the IMI/HNSW ladder). Assignment is approximate exactly the way
    *     production IVF assignment is: a vector near a pilot boundary may
    *     land in a neighboring cell; SemDeDup's dedup semantics only need
    *     cells to be locality-preserving, and both engines compute the
    *     SAME deterministic assignment (ties to the lower pilot/cluster).
    *
    * After assignment the within-cell pair search, two-stage verify, and
    * keep-the-outlier rule are [[semdedupPrune]] — byte-identical to c2's.
    * Scale shape: the only corpus-sized passes are the pilot routing
    * (broadcast of g rows), the group scoring (broadcast of k index rows,
    * join on the pilot key), and c2's cell-scoped pair join; nothing else
    * grows with n, so at k ∝ n the pipeline is ~n·√k rather than n·k.
    * Default-k oracle unrolls the sampled training + two-level routing
    * symbolically; like `semdedupK`, non-default knobs trade oracle
    * hash-equality for the production shape. */
  def c2_semdedup_ann(s: SparkSession, dir: String): DataFrame = {
    val k = s.conf.get("spark.graft.semdedupK", "10").toInt
    val m = semdedupSample(s)
    val g = s.conf.get("spark.graft.semdedupRouteCells", "4").toInt
    val p = SemdedupRouteProbes
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // 1. bounded-sample training: O(m·k), corpus-size-independent
    val coarse = trainCoarseOn(emb.filter(col("vec_id") < m), k)
    val asg = annAssign(emb, coarse, g, p)
      .withColumn("n2", dot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("cell"), col("embedding"), col("dist"), col("n2"))
      .localCheckpoint()
    semdedupPrune(asg)
  }

  /** Pilot probes per vector in [[annAssign]]'s two-level route. */
  private[graft] val SemdedupRouteProbes = 1

  /** The two-level ANN-routed assignment shared by [[c2_semdedup_ann]] and
    * [[c2_assign_audit]]: g pilot cells partition the k centroids by
    * nearest-pilot; each vector routes to its `p` nearest pilots
    * (g distances) then scores only those pilots' groups (~p·k/g).
    * MULTI-PROBE is the standard recall knob of two-level routing — a
    * vector near a pilot boundary finds its true centroid in the second
    * probe. p = [[SemdedupRouteProbes]] = 1 was DECIDED BY [[c2_prune_audit]]'s
    * OUTCOME-level measurement at the production shape (sf1, k = 100,
    * g = 10), which refuted a cell-level choice of p = 2:
    * cell agreement climbs steeply with probes (32% → 47.8% → 59.8% for
    * p = 1/2/3) but the kept/dropped verdict — the only thing SemDeDup
    * ships — is FLAT at 99.15% → 99.25% → 99.38% (drop-set Jaccard
    * ≥ 0.99 everywhere): a vector routed to a wrong-but-nearby cell
    * still meets its near-duplicates there, so each extra probe pays
    * +k/g evals per vector for ~0.1 points of shipped agreement. The
    * g-sweep refutes the other direction too: more pilots at fixed p
    * narrow each group and LOSE agreement at matched eval budget
    * (g = 20 → 43.8% vs g = 10 → 47.8% at p = 2) — hold g at √k, and
    * buy outcome fidelity (when a deployment's threshold demands it)
    * with probes. Returns (vec_id, embedding, cell, dist) with `dist` the exact
    * distance to the ROUTED centroid. */
  private def annAssign(emb: DataFrame, coarse: DataFrame,
                        g: Int, p: Int): DataFrame = {
    val pilots = coarse.filter(col("cluster") < g)
    // 2a. the centroid index: each trained centroid joins its nearest
    // pilot's group (k×g distances — index build cost, not corpus cost)
    val cindex = routeNearest(coarse.select(col("cluster").as("c"), col("cemb").as("ce")),
        col("ce"), pilots, 1, sqDist)
      .select(col("cluster").as("pcell"), col("c").as("cluster"), col("ce").as("cemb"))
    // 2b. route every vector to its p nearest pilots (g distances) …
    val v2p = routeNearest(emb, col("embedding"), pilots, p, sqDist)
      .select(col("vec_id"), col("embedding"), col("cluster").as("pcell"))
    // … then score only those pilots' centroid groups (~p·k/g per vector;
    // groups are disjoint — cindex maps each centroid to exactly one pilot)
    v2p.join(broadcast(cindex), Seq("pcell"))
      .withColumn("dist", sqDist(col("embedding"), col("cemb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cluster").as("cell"), col("dist"))
  }

  /** C2-ASSIGN-AUDIT: the ANN routing's approximation MEASURED — s8/s12's
    * audit discipline applied to c2-ann's assignment: under the SAME
    * sampled-trained centroids, compare the exhaustive nearest-centroid
    * assignment (the n·k pass the router replaces) with the two-level
    * route, per routed cell: size, exact-agreement count and rate, and
    * the summed routed-distance EXCESS over the true nearest distance
    * (micro units — 0 exactly when routing found the true cell, since the
    * routed distance can never beat the exhaustive minimum). This is the
    * number that decides g in production — the recall/cost trade of the
    * assignment stage, measured instead of asserted, isolating the
    * ROUTING loss from the (orthogonal) sampling loss.
    *
    * Cost: one exhaustive pass + one routed pass — an audit run on a
    * sample at scale exactly like s8; the comparison join is 1 row per
    * vector per side. */
  def c2_assign_audit(s: SparkSession, dir: String): DataFrame = {
    val k = s.conf.get("spark.graft.semdedupK", "10").toInt
    val m = semdedupSample(s)
    val g = s.conf.get("spark.graft.semdedupRouteCells", "4").toInt
    val p = SemdedupRouteProbes
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val coarse = trainCoarseOn(emb.filter(col("vec_id") < m), k)
    val exact = routeNearest(emb, col("embedding"), coarse, 1, sqDist)
      .select(col("vec_id"), col("cluster").as("cell_exact"), col("dist").as("dist_e"))
    val ann = annAssign(emb, coarse, g, p)
      .select(col("vec_id"), col("cell").as("cell_ann"), col("dist").as("dist_a"))
    ann.join(exact, Seq("vec_id"))
      .groupBy(col("cell_ann"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(when(col("cell_ann") === col("cell_exact"), 1L).otherwise(0L)).as("n_match"),
           sum(floor((col("dist_a") - col("dist_e")) * 1000000.0 + 0.5).cast("long"))
             .as("excess_micro"))
      .select(col("cell_ann").as("cell"), col("n_vecs"), col("n_match"),
              round4(col("n_match").cast("double") / col("n_vecs")).as("match_rate"),
              col("excess_micro"))
      .orderBy("cell")
  }

  /** c2-ann oracle: sampled Lloyd chain (the c0→c1→c2 CTEs restricted to
    * the `vec_id < 1024` sample), pilot cells, the centroid→pilot index,
    * two-level vector routing, then c2's pair/prune CTEs verbatim over the
    * routed assignment. */
  /** The sampled-training + two-level-routing CTE chain (through the
    * routed `asgd` relation) — shared by the c2-ann and c2-audit
    * oracles. */
  private val annRouteCtesSql: String = {
    val sampleTrainCtes =
      s"""es AS (
         |  SELECT * FROM e WHERE vec_id < $SemdedupSampleDefault
         |), c0 AS (
         |  SELECT vec_id AS cluster, i, v AS cv FROM es WHERE vec_id < 10
         |), c1 AS (
         |${assignAndMeanSql("c0", "es")}
         |), c2 AS (
         |${assignAndMeanSql("c1", "es")}
         |)""".stripMargin
    s"""$sampleTrainCtes, pil AS (
      |  SELECT cluster AS pcell, i, cv AS pv FROM c2 WHERE cluster < 4
      |), cidx AS (
      |  SELECT pcell, cluster FROM (
      |    SELECT c.cluster, p.pcell,
      |      row_number() OVER (PARTITION BY c.cluster
      |        ORDER BY sum(((c.cv - p.pv) * (c.cv - p.pv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 p.pcell) AS rn
      |    FROM c2 c JOIN pil p USING (i)
      |    GROUP BY c.cluster, p.pcell)
      |  WHERE rn = 1
      |), v2p AS (
      |  SELECT vec_id, pcell FROM (
      |    SELECT e.vec_id, p.pcell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - p.pv) * (e.v - p.pv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 p.pcell) AS rn
      |    FROM e JOIN pil p USING (i)
      |    GROUP BY e.vec_id, p.pcell)
      |  WHERE rn <= 1
      |), asgd AS (
      |  SELECT vec_id, cluster AS cell, dist FROM (
      |    SELECT e.vec_id, c.cluster,
      |      sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE AS dist,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e
      |    JOIN v2p USING (vec_id)
      |    JOIN cidx x ON x.pcell = v2p.pcell
      |    JOIN c2 c ON c.cluster = x.cluster AND c.i = e.i
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |)""".stripMargin
  }

  val c2AnnSql: String =
    s"""WITH $elemsSqlCte, $annRouteCtesSql, norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2
      |  FROM e GROUP BY 1
      |), pr AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb, a.dist AS da, b.dist AS db,
      |         sum((ea.v * eb.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM asgd a JOIN asgd b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
      |  GROUP BY 1, 2, 3, 4
      |), rem AS (
      |  SELECT DISTINCT CASE WHEN p.da < p.db THEN p.va
      |                       WHEN p.db < p.da THEN p.vb
      |                       ELSE p.vb END AS vec_id
      |  FROM pr p
      |  JOIN norms na ON na.vec_id = p.va
      |  JOIN norms nb ON nb.vec_id = p.vb
      |  WHERE floor(p.dp / sqrt(na.n2 * nb.n2) * 10000.0 + 0.5) / 10000.0 >= 0.4
      |)
      |SELECT a.vec_id, a.cell,
      |  floor(a.dist * 10000.0 + 0.5) / 10000.0 AS cdist,
      |  r.vec_id IS NULL AS kept
      |FROM asgd a LEFT JOIN rem r USING (vec_id)
      |ORDER BY a.vec_id""".stripMargin

  /** c2-audit oracle: the routed chain plus a dist-retaining EXHAUSTIVE
    * assignment against the same sampled-trained centroids; per routed
    * cell, agreement counts and the summed routed-distance excess. */
  val c2AuditSql: String =
    s"""WITH $elemsSqlCte, $annRouteCtesSql, asge AS (
      |  SELECT vec_id, cluster AS cell_exact, dist AS dist_e FROM (
      |    SELECT e.vec_id, c.cluster,
      |      sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE AS dist,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |)
      |SELECT a.cell, count(*)::BIGINT AS n_vecs,
      |  sum(CASE WHEN a.cell = x.cell_exact THEN 1 ELSE 0 END)::BIGINT AS n_match,
      |  floor(sum(CASE WHEN a.cell = x.cell_exact THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*) * 10000.0 + 0.5) / 10000.0 AS match_rate,
      |  sum(floor((a.dist - x.dist_e) * 1000000.0 + 0.5)::BIGINT)::BIGINT AS excess_micro
      |FROM asgd a JOIN asge x USING (vec_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** C2-PRUNE-AUDIT: the ANN routing's approximation measured at the
    * OUTCOME level — [[c2_assign_audit]] grades the router at the CELL
    * level (48% agreement at p = 2, sf0.01 defaults), but SemDeDup's
    * semantics never consume the cell id: a cell is only a locality
    * scope for the pair search, and what a deployment ships is the
    * KEPT/DROPPED verdict. This audit runs the [[semdedupPrune]] verdict
    * twice under IDENTICAL sampled-trained centroids — once over the
    * exhaustive nearest-centroid assignment, once over the two-level
    * routed assignment — and reports one row: cell-level agreement
    * (c2-audit's number, for contrast in the same artifact), prune-level
    * agreement, both drop-set sizes, their overlap, and the drop-set
    * Jaccard. If prune agreement ≫ cell agreement, the routing default
    * is vindicated at the level that matters (a vector that lands in a
    * "wrong" but nearby cell still meets its near-duplicates there); if
    * not, [[SemdedupRouteProbes]] must rise. Same centroids on both sides
    * isolates ROUTING loss from the orthogonal sampling loss (which
    * c2 vs c2-ann would conflate).
    *
    * Cost: both assignment passes (one exhaustive n·k — the audit's
    * subject contains its baseline, s8's discipline), two cell-scoped
    * pair searches, and a 1-row-per-vector comparison join — the same
    * sampled-eval class as s19. */
  def c2_prune_audit(s: SparkSession, dir: String): DataFrame = {
    val k = s.conf.get("spark.graft.semdedupK", "10").toInt
    val m = semdedupSample(s)
    val g = s.conf.get("spark.graft.semdedupRouteCells", "4").toInt
    val p = SemdedupRouteProbes
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // identical sampled-trained centroids on BOTH sides
    val coarse = trainCoarseOn(emb.filter(col("vec_id") < m), k)
    val asgE = routeNearest(emb, col("embedding"), coarse, 1, sqDist)
      .withColumn("n2", dot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("cluster").as("cell"), col("embedding"),
              col("dist"), col("n2"))
      .localCheckpoint()
    val asgA = annAssign(emb, coarse, g, p)
      .withColumn("n2", dot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("cell"), col("embedding"), col("dist"), col("n2"))
      .localCheckpoint()
    val verdicts = asgE.select(col("vec_id"), col("cell").as("cell_exact"))
      .join(asgA.select(col("vec_id"), col("cell").as("cell_ann")), Seq("vec_id"))
      .join(semdedupPrune(asgE)
        .select(col("vec_id"), col("kept").as("kept_exact")), Seq("vec_id"))
      .join(semdedupPrune(asgA)
        .select(col("vec_id"), col("kept").as("kept_ann")), Seq("vec_id"))
    val dropBoth = sum(when(!col("kept_exact") && !col("kept_ann"), 1L)
      .otherwise(0L))
    verdicts.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cell_exact") === col("cell_ann"), 1L).otherwise(0L))
          .as("n_cell_match"),
        sum(when(col("kept_exact") === col("kept_ann"), 1L).otherwise(0L))
          .as("n_prune_match"),
        sum(when(!col("kept_exact"), 1L).otherwise(0L)).as("n_drop_exact"),
        sum(when(!col("kept_ann"), 1L).otherwise(0L)).as("n_drop_ann"),
        dropBoth.as("n_drop_both"))
      .select(col("n_docs"), col("n_cell_match"),
              round4(col("n_cell_match").cast("double") / col("n_docs"))
                .as("cell_agree"),
              col("n_prune_match"),
              round4(col("n_prune_match").cast("double") / col("n_docs"))
                .as("prune_agree"),
              col("n_drop_exact"), col("n_drop_ann"), col("n_drop_both"),
              round4(col("n_drop_both").cast("double") /
                greatest(col("n_drop_exact") + col("n_drop_ann")
                  - col("n_drop_both"), lit(1L))).as("drop_jaccard"))
  }

  /** The exhaustive pair-search + keep-the-outlier CTE pair over an
    * assignment relation `src (vec_id, cell, dist)` — the SQL twin of
    * [[semdedupPrune]], shared by the c2-ann and c2-prune-audit oracles. */
  private def prRemSql(src: String, pr: String, rem: String): String =
    s"""$pr AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb, a.dist AS da, b.dist AS db,
      |         sum((ea.v * eb.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM $src a JOIN $src b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
      |  GROUP BY 1, 2, 3, 4
      |), $rem AS (
      |  SELECT DISTINCT CASE WHEN p.da < p.db THEN p.va
      |                       WHEN p.db < p.da THEN p.vb
      |                       ELSE p.vb END AS vec_id
      |  FROM $pr p
      |  JOIN norms na ON na.vec_id = p.va
      |  JOIN norms nb ON nb.vec_id = p.vb
      |  WHERE floor(p.dp / sqrt(na.n2 * nb.n2) * 10000.0 + 0.5) / 10000.0 >= 0.4
      |)""".stripMargin

  /** c2-prune-audit oracle: the routed chain (asgd), the dist-retaining
    * exhaustive assignment over the SAME sampled-trained centroids
    * (asge), BOTH prune chains, one aggregate row. */
  val c2PruneAuditSql: String =
    s"""WITH $elemsSqlCte, $annRouteCtesSql, asge AS (
      |  SELECT vec_id, cluster AS cell, dist FROM (
      |    SELECT e.vec_id, c.cluster,
      |      sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE AS dist,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2
      |  FROM e GROUP BY 1
      |), ${prRemSql("asgd", "prA", "remA")},
      |${prRemSql("asge", "prE", "remE")}
      |SELECT count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN a.cell = x.cell THEN 1 ELSE 0 END)::BIGINT AS n_cell_match,
      |  floor(sum(CASE WHEN a.cell = x.cell THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*) * 10000.0 + 0.5) / 10000.0 AS cell_agree,
      |  sum(CASE WHEN (ra.vec_id IS NULL) = (re.vec_id IS NULL)
      |      THEN 1 ELSE 0 END)::BIGINT AS n_prune_match,
      |  floor(sum(CASE WHEN (ra.vec_id IS NULL) = (re.vec_id IS NULL)
      |        THEN 1 ELSE 0 END)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0
      |    AS prune_agree,
      |  sum(CASE WHEN re.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_drop_exact,
      |  sum(CASE WHEN ra.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_drop_ann,
      |  sum(CASE WHEN ra.vec_id IS NOT NULL AND re.vec_id IS NOT NULL
      |      THEN 1 ELSE 0 END)::BIGINT AS n_drop_both,
      |  floor(sum(CASE WHEN ra.vec_id IS NOT NULL AND re.vec_id IS NOT NULL
      |            THEN 1 ELSE 0 END)::DOUBLE
      |        / greatest(sum(CASE WHEN re.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |                 + sum(CASE WHEN ra.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |                 - sum(CASE WHEN ra.vec_id IS NOT NULL AND re.vec_id IS NOT NULL
      |                       THEN 1 ELSE 0 END), 1)
      |        * 10000.0 + 0.5) / 10000.0 AS drop_jaccard
      |FROM asgd a JOIN asge x USING (vec_id)
      |LEFT JOIN remA ra ON ra.vec_id = a.vec_id
      |LEFT JOIN remE re ON re.vec_id = a.vec_id""".stripMargin

  /** S11: per-class kNN-GRAPH construction — the first s-query with an
    * UNBOUNDED query side: EVERY vector finds its top-3 same-label
    * neighbors (the kNN graph UMAP/HNSW builds, SemDeDup's graph variant
    * consumes, and every "related items within category" service serves).
    * s1-s10 all lean on the bounded-query-side contract; here the thing
    * that makes an all-corpus query side feasible is that the filter is a
    * PARTITIONABLE equi-key: joining on `label` turns the corpus×corpus
    * blowup into Σ n_label² co-partitioned blocks — the metadata-filtered
    * vector search every production vector store optimizes for, and the
    * same block-bounding algebra as c2's cells (block size is the declared
    * scaling knob: at 100 TB labels are sharded further by an LSH sub-key,
    * same plan shape).
    *
    * Exactness at unbounded scale is the second problem this query solves:
    * the oracle contract ranks by exact-decimal cosine, but running the
    * order-independent DECIMAL(30,20) fold over every within-class pair is
    * the expensive path. Two stages, provably lossless: (1) a native
    * codegen'd `dot_f32` double cosine over all within-class pairs ranks
    * candidates; everything within 1.2e-4 of each query's 3rd-best double
    * cosine survives — the margin covers the 1e-4 output rounding quantum
    * plus the ≲1e-13 64-term double-fold error, so NO vector that could
    * place top-3 under the rounded exact ranking can be excluded (if
    * rounded(m) were in the top-3, at most two vectors may exceed m's
    * double cosine by more than the quantum); (2) the exact-decimal fold
    * re-ranks only the survivors (≈3-30 per query, duplicate cliques
    * included by the margin). */
  def s11_knn_graph(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
      .localCheckpoint() // norms: n exact folds, consumed by both stages
    // Stage 1 stays NARROW end to end: dcos is computed inside the join
    // task and the 64-float payloads are dropped before anything shuffles —
    // the within-class pair stream that reaches the ranking exchange is
    // (q_id, n_id, dcos). The 3rd-best double cosine rides the SAME
    // window partitioning as the rank (Exchange reused, the st8 trick),
    // so stage 1 is exactly one narrow shuffle.
    val byQ = Window.partitionBy(col("q_id"))
    val cand = emb.select(col("vec_id").as("q_id"), col("label"),
                          col("embedding").as("qe"), col("n2").as("qn2"))
      .join(emb.select(col("vec_id").as("n_id"), col("label"),
                       col("embedding").as("ne"), col("n2").as("nn2")),
            Seq("label"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (graft.functions.dot_f32(col("qe"), col("ne"))
          / sqrt(col("qn2") * col("nn2"))).as("dcos"))
      .withColumn("rk_d", row_number().over(
        byQ.orderBy(col("dcos").desc, col("n_id"))))
      .withColumn("kth_dcos",
        max(when(col("rk_d") === 3, col("dcos"))).over(byQ))
      .filter(col("dcos") >= coalesce(col("kth_dcos"), lit(-2.0)) - 1.2e-4)
      .select(col("q_id"), col("n_id"))
    // Stage 2: payloads move ONLY for the ≈3-30 candidates per query.
    cand
      .join(emb.select(col("vec_id").as("q_id"), col("label"),
                       col("embedding").as("qe"), col("n2").as("qn2")), Seq("q_id"))
      .join(emb.select(col("vec_id").as("n_id"),
                       col("embedding").as("ne"), col("n2").as("nn2")), Seq("n_id"))
      .withColumn("cosine",
        round4(dot(col("qe"), col("ne")) / sqrt(col("qn2") * col("nn2"))))
      .withColumn("rank", row_number().over(
        byQ.orderBy(col("cosine").desc, col("n_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("label"), col("n_id"), col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** s11's oracle: the full exact within-class ranking — no prefilter
    * oracle-side; the margin argument above is exactly the claim that the
    * engine's two-stage plan equals this. */
  val s11Sql: String =
    s"""WITH $elemsSqlCte, norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), dots AS (
      |  SELECT a.vec_id AS q_id, a.label AS label, b.vec_id AS n_id,
      |         sum((a.v * b.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM e a JOIN e b ON a.i = b.i AND a.label = b.label
      |                   AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2, 3
      |), scored AS (
      |  SELECT q_id, label, n_id,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM dots
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = n_id
      |), ranked AS (
      |  SELECT q_id, label, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, label, n_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Bits per LSH band in [[s11_knn_graph_sharded]]'s block key. */
  private[graft] val S11BandBits = 8

  /** S11-SHARDED: the kNN graph under the LSH SUB-SHARD key — the 100 TB
    * form of [[s11_knn_graph]]. s11's block key is `label` alone, so its
    * pair mass is Σ n_label² — at 100× scale one hot label (`lang=en`) is a
    * quadratic cliff however narrow the rows. This variant sub-shards every
    * label by random-hyperplane LSH: each vector carries a 2×b-bit sign
    * fingerprint (s2's hyperplanes, [[fingerprintBits]]), splits it into 2
    * bands of b bits, and the block key becomes (label, band, bucket) —
    * candidates are pairs agreeing on label AND at least one band. Per-label
    * pair mass drops n_label² → ~n_label²/2^(b−1) with b =
    * [[S11BandBits]] bits per band (8 = 256 buckets/band). Growing b by 1
    * quarters the block pair mass, so 4× data at b+1 keeps the per-block
    * cost constant — the same deployment contract as c2's k ∝ corpus. The
    * oracle unrolls b = 8 symbolically; the dataflow is b-agnostic.
    *
    * Semantics: top-3 by exact rounded cosine WITHIN the LSH candidate set —
    * the per-bucket recall contract (a neighbor colliding in neither band is
    * not a candidate; s2 measures that recall for the same hyperplanes).
    * Determinism is inherited unchanged: candidates are defined by exact-
    * decimal sign bits (both engines agree bit-for-bit), and ranking reuses
    * s11's two-stage exact margin — a native double-cosine rank keeps
    * everything within 1.2e-4 of the 3rd-best (the rounding-quantum +
    * double-error margin), then the exact-decimal fold re-ranks survivors.
    * The plan keeps s11's narrow discipline: dcos is computed inside the
    * co-partitioned (label, band, bucket) block join and payloads are
    * dropped before anything shuffles; the only addition is one narrow
    * distinct (a pair colliding in BOTH bands appears twice, with an
    * identical double dcos) ahead of the ranking exchange. */
  def s11_knn_graph_sharded(s: SparkSession, dir: String): DataFrame = {
    val b = S11BandBits
    // The 2b×64 exact-decimal projection folds are the dominant linear cost
    // at scale; the stage-2 re-rank below touches only the ≈3-30 margin
    // survivors per query.
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"),
              fingerprintBits(col("embedding"), nbits = 2 * b).as("fp"))
      .localCheckpoint() // norms + fingerprints: n folds, consumed twice
    val bnd = emb.select(col("vec_id"), col("label"), col("embedding"), col("n2"),
        explode(array((0 until 2).map(k =>
          struct(lit(k).as("k"),
                 (shiftright(col("fp"), b * k) % (1L << b)).as("bv"))): _*)).as("nb"))
      .select(col("vec_id"), col("label"), col("nb.k").as("k"), col("nb.bv").as("bv"),
              col("embedding"), col("n2"))
    val byQ = Window.partitionBy(col("q_id"))
    val cand = bnd.select(col("vec_id").as("q_id"), col("label"), col("k"), col("bv"),
                          col("embedding").as("qe"), col("n2").as("qn2"))
      .join(bnd.select(col("vec_id").as("n_id"), col("label"), col("k"), col("bv"),
                       col("embedding").as("ne"), col("n2").as("nn2")),
            Seq("label", "k", "bv"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (graft.functions.dot_f32(col("qe"), col("ne"))
          / sqrt(col("qn2") * col("nn2"))).as("dcos"))
      .distinct() // both-bands collisions: identical double, exact dedupe
      .withColumn("rk_d", row_number().over(
        byQ.orderBy(col("dcos").desc, col("n_id"))))
      .withColumn("kth_dcos",
        max(when(col("rk_d") === 3, col("dcos"))).over(byQ))
      .filter(col("dcos") >= coalesce(col("kth_dcos"), lit(-2.0)) - 1.2e-4)
      .select(col("q_id"), col("n_id"))
    cand
      .join(emb.select(col("vec_id").as("q_id"), col("label"),
                       col("embedding").as("qe"), col("n2").as("qn2")), Seq("q_id"))
      .join(emb.select(col("vec_id").as("n_id"),
                       col("embedding").as("ne"), col("n2").as("nn2")), Seq("n_id"))
      .withColumn("cosine",
        round4(dot(col("qe"), col("ne"))
          / sqrt(col("qn2") * col("nn2"))))
      .withColumn("rank", row_number().over(
        byQ.orderBy(col("cosine").desc, col("n_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("label"), col("n_id"), col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** s11-sharded oracle: the same 16-bit fingerprint CTE as s2's, banded
    * into (label, band, bucket) blocks; exact ranking over the candidate
    * set — no prefilter oracle-side (s11's margin argument). */
  lazy val s11ShardedSql: String = {
    val bitSums = (0 until 16).map { j =>
      val (a, b) = hyper(j)
      s"CASE WHEN sum((v * ((($a * (i + 1) + $b) % 1009)::DOUBLE / 1009.0 - 0.5))::DECIMAL(30,20)) >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH $elemsSqlCte, fp AS (
      |  SELECT vec_id, label, ($bitSums)::BIGINT AS fp FROM e GROUP BY vec_id, label
      |), bnd AS (
      |  SELECT vec_id, label, k, (fp >> (8 * k)) % 256 AS bv
      |  FROM fp CROSS JOIN (SELECT unnest(range(2)) AS k)
      |), cand AS (
      |  SELECT DISTINCT x.vec_id AS q_id, x.label, y.vec_id AS n_id
      |  FROM bnd x JOIN bnd y ON x.label = y.label AND x.k = y.k AND x.bv = y.bv
      |                       AND x.vec_id <> y.vec_id
      |), norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), dots AS (
      |  SELECT c.q_id, c.label, c.n_id,
      |         sum((a.v * b.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM cand c
      |  JOIN e a ON a.vec_id = c.q_id
      |  JOIN e b ON b.vec_id = c.n_id AND b.i = a.i
      |  GROUP BY 1, 2, 3
      |), scored AS (
      |  SELECT q_id, label, n_id,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM dots
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = n_id
      |), ranked AS (
      |  SELECT q_id, label, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, label, n_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** S12: the sub-shard RECALL audit — s11_sharded's per-bucket recall
    * contract turned into a measured query (s8/s10's discipline applied to
    * the kNN graph): per query vector, how many of its EXACT same-label
    * top-3 (s11, the ground truth) does the (label, band, bucket)-blocked
    * graph return? A neighbor colliding in neither band is invisible to
    * the sharded plan — this measures that loss instead of asserting it,
    * per query, over the FULL unbounded query side (every vector). Cost =
    * the two underlying graphs + one |V|·k co-partitioned join; at scale
    * this runs as a sampled audit exactly like s8 (the sampling predicate
    * composes with both sides' shared q_id key). */
  def s12_shard_recall(s: SparkSession, dir: String): DataFrame = {
    val exact = s11_knn_graph(s, dir).select(col("q_id"), col("n_id"))
    val shard = s11_knn_graph_sharded(s, dir)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    exact.join(shard, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("hit")).as("hits"), count(lit(1)).as("k_exact"))
      .select(col("q_id"), col("hits"), col("k_exact"),
              round4(col("hits").cast("double") / col("k_exact")).as("recall"))
      .orderBy("q_id")
  }

  lazy val s12Sql: String =
    s"""WITH ex AS (
       |$s11Sql
       |), sh AS (
       |$s11ShardedSql
       |)
       |SELECT e.q_id, count(s.n_id)::BIGINT AS hits, count(*)::BIGINT AS k_exact,
       |  floor(count(s.n_id)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS recall
       |FROM ex e
       |LEFT JOIN sh s ON s.q_id = e.q_id AND s.n_id = e.n_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S14: CLUSTER CARD — the per-cell telemetry a production vector index
    * publishes after (re)training its coarse quantizer, and the
    * domain-discovery summary an embedding-clustered corpus review reads
    * (the cluster-inspection step of SemDeDup-style pipelines): for each of
    * s4's trained k-means cells — size, mean squared distance to the
    * centroid (inertia/n), radius (max member distance), the dominant
    * metadata label, and its purity. Size and purity expose imbalanced or
    * mixed cells; radius/inertia expose diffuse ones — the numbers that
    * decide whether k needs raising before c2's within-cell pair search.
    *
    * Scale shape: one broadcast of the k trained centroid rows against the
    * scan (assignment, s4's machinery — the corpus never shuffles for it),
    * then two bounded aggregations: (cluster, label) counts and per-cluster
    * moments — both keyed by the k-bounded cluster id. Nothing about the
    * card grows with the corpus except the one assignment pass.
    *
    * Determinism: member distances quantize to an integer micro-grid
    * before the sums/max (exact 64-bit); the dominant label breaks count
    * ties to the lower label. */
  def s14_cluster_card(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val cents = trainCoarse(s, dir)
    val per = assignToNearest(emb, cents)
      .withColumn("dm",
        floor(sqDist(col("embedding"), col("cemb")) * 1000000.0 + 0.5)
          .cast("long"))
      .select(col("vec_id"), col("cluster"), col("label"), col("dm"))
    val top = per.groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("cnt").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("top_label"), col("cnt").as("top_cnt"))
    per.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dm")).as("sum_dm"),
           max(col("dm")).as("max_dm"))
      .join(top, Seq("cluster"))
      .select(col("cluster"), col("n_vecs"),
        round4(col("sum_dm").cast("double") / 1000000.0 / col("n_vecs")).as("mean_sqdist"),
        round4(col("max_dm").cast("double") / 1000000.0).as("radius"),
        col("top_label"),
        round4(col("top_cnt").cast("double") / col("n_vecs")).as("purity"))
      .orderBy("cluster")
  }

  val s14Sql: String =
    s"""WITH $elemsSqlCte, $coarseTrainCtes, asg AS (
       |  SELECT vec_id, cluster, d FROM (
       |    SELECT e.vec_id, c.cluster,
       |      sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE AS d,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
       |                 c.cluster) AS rn
       |    FROM e JOIN c2 c USING (i)
       |    GROUP BY e.vec_id, c.cluster)
       |  WHERE rn = 1
       |), per AS (
       |  SELECT a.vec_id, a.cluster, emb.label,
       |         floor(a.d * 1000000.0 + 0.5)::BIGINT AS dm
       |  FROM asg a JOIN embeddings emb USING (vec_id)
       |), top AS (
       |  SELECT cluster, label AS top_label, cnt AS top_cnt FROM (
       |    SELECT cluster, label, cnt,
       |      row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, label) AS rn
       |    FROM (SELECT cluster, label, count(*)::BIGINT AS cnt
       |          FROM per GROUP BY 1, 2)) WHERE rn = 1
       |), agg AS (
       |  SELECT cluster, count(*)::BIGINT AS n_vecs,
       |    floor(sum(dm)::DOUBLE / 1000000.0 / count(*) * 10000.0 + 0.5)
       |      / 10000.0 AS mean_sqdist,
       |    floor(max(dm)::DOUBLE / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS radius
       |  FROM per GROUP BY 1)
       |SELECT a.cluster, a.n_vecs, a.mean_sqdist, a.radius, t.top_label,
       |  floor(t.top_cnt::DOUBLE / a.n_vecs * 10000.0 + 0.5) / 10000.0 AS purity
       |FROM agg a JOIN top t USING (cluster) ORDER BY cluster""".stripMargin

  /** S15: FILTERED ANN — vector search under a metadata predicate (the
    * Qdrant/Milvus/Vespa "filtered search" shape every RAG deployment
    * needs: only license-clean / servable / tenant-visible vectors may be
    * answers). Semantics are PRE-FILTER: the predicate (here `vec_id`
    * even — the servable half) restricts the candidate set BEFORE ranking,
    * so the query always gets its k best among eligible vectors — not the
    * post-filter shape that returns fewer than k when the filter and the
    * top-k overlap poorly.
    *
    * Scale shape is s3's cell search with the predicate applied at the
    * SCAN, below the cell join: pruned rows never enter the cell scan, the
    * filter rides the same codegen stage as the parquet read, and routing
    * (which must see the full centroid geometry — filtering is about
    * eligibility, not geometry) is untouched. One broadcast of the bounded
    * routed-query relation; ranking per query unchanged. */
  def s15_filtered_ann(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val routed = labelRoutes(s, dir, 1).select(col("q_id"), col("qemb"), col("label"))
    emb.filter(col("vec_id") % 2 === 0) // the metadata predicate: scan-level, pre-join
      .join(broadcast(routed), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round4(dot(col("embedding"), col("qemb"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("label").as("cell"), col("vec_id").as("n_id"),
              col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val s15Sql: String =
    s"""WITH $elemsSqlCte, cent AS (
      |  SELECT label, i, sum(v::DECIMAL(38,30))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM e GROUP BY 1, 2
      |), q AS (
      |  SELECT vec_id AS q_id, i, v AS qv FROM e WHERE vec_id % 100 = 0
      |), q2c AS (
      |  SELECT q_id, label, sum((qv * cv)::DECIMAL(30,20))::VARCHAR::DOUBLE AS cdp
      |  FROM q JOIN cent USING (i) GROUP BY 1, 2
      |), routed AS (
      |  SELECT q_id, label FROM (
      |    SELECT q_id, label,
      |      row_number() OVER (PARTITION BY q_id ORDER BY cdp DESC, label) AS rn
      |    FROM q2c) WHERE rn = 1
      |), dots AS (
      |  SELECT q.q_id, r.label, d.vec_id,
      |         sum((q.qv * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM q JOIN routed r USING (q_id)
      |  JOIN e d ON d.i = q.i AND d.label = r.label AND d.vec_id <> q.q_id
      |    AND d.vec_id % 2 = 0
      |  GROUP BY 1, 2, 3
      |), ranked AS (
      |  SELECT q_id, label AS cell, vec_id AS n_id,
      |    floor(dp * 10000.0 + 0.5) / 10000.0 AS cosine,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY floor(dp * 10000.0 + 0.5) / 10000.0 DESC, vec_id) AS rank
      |  FROM dots)
      |SELECT q_id, cell, n_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** S16: HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION — the two-tower RAG
    * serving shape (Cormack et al. 2009's RRF, the fusion every hybrid
    * search deployment ships): the same query runs against BOTH indexes —
    * lexical (t27's BM25 over the pruned inverted index) and dense
    * (brute-force cosine over the embedding column, s1's scoring at
    * k = 10) — and the two rank lists fuse by RRF(d) = Σ_lists
    * 1/(60 + rank_list(d)), which rewards agreement without ever comparing
    * raw scores across incommensurable scales. Queries are t27's workload
    * restricted to documents that have an embedding (the corpus halves
    * share the id space; at 100 TB the dense index covers the embedded
    * slice). Top-5 fused answers per query.
    *
    * Scale shape: each leg keeps its own contract (BM25: pruned postings
    * bound candidates; dense: bounded query side vs the flat index — the
    * IVF variants are drop-in); fusion itself is ONE full-outer equi-join
    * of two ≤ k·|queries| rank lists on (query, doc) + a per-query top-5
    * WindowGroupLimit — fusion cost never touches either corpus.
    *
    * Determinism: each list contribution is floor(10⁶/(60+rank) + 0.5) —
    * an integer micro-unit — so fused scores are exact 64-bit sums; ties
    * break to the lower doc_id. */
  /** The EXACT dense rank list at the hybrid workload contract
    * (qmod = 50): brute-force cosine top-10 per query — s16's dense leg
    * and [[s19_retrieval_eval]]'s ground truth. Returns
    * (query_id, doc_id, rk_ann), depth 10. */
  private def exactDenseLeg(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"), col("n2").as("qn2"))
    emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round4(dot(col("embedding"), col("qemb")) /
                                   sqrt(col("qn2") * col("n2"))))
      .withColumn("rk_ann", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rk_ann") <= 10)
      .select(col("q_id").as("query_id"), col("vec_id").as("doc_id"), col("rk_ann"))
  }

  /** The BM25 rank list restricted to embedded queries — s16/s16-ivf's
    * lexical leg and an [[s19_retrieval_eval]] system under test. */
  private def bm25Leg(s: SparkSession, dir: String): DataFrame = {
    val embIds = Tables.embeddings(s, dir).select(col("vec_id").as("query_id"))
    graft.queries.TextAnalysis.t27_bm25(s, dir)
      .join(embIds, Seq("query_id"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_bm"))
  }

  /** RRF fusion of a lexical and a dense rank list — the shared finisher
    * of [[s16_hybrid_rrf]], [[s16_hybrid_rrf_ivf]], and s19's hybrid
    * system: one full-outer equi-join of two bounded lists + a per-query
    * top-5 WindowGroupLimit; never touches either corpus. */
  private def rrfFuse(bm: DataFrame, ann: DataFrame): DataFrame = {
    def rrf(rk: Column) = floor(lit(1000000.0) / (lit(60) + rk) + 0.5).cast("long")
    bm.join(ann, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(rrf(col("rk_bm")), lit(0L)) +
         coalesce(rrf(col("rk_ann")), lit(0L))).as("rrf_micro"),
        (col("rk_bm").isNotNull.cast("int") +
         col("rk_ann").isNotNull.cast("int")).cast("long").as("n_lists"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("query_id", "rk")
  }

  def s16_hybrid_rrf(s: SparkSession, dir: String): DataFrame =
    rrfFuse(bm25Leg(s, dir), exactDenseLeg(s, dir))

  // def, not (lazy) val: s16Sql splices TextAnalysis.t27Sql, and Similarity
  // can be initialized from INSIDE TextAnalysis's own initializer (via
  // t11Sql → Dedup → d5Sql → s2Sql) — a val evaluated on that path would
  // permanently capture t27Sql as null. The strict `oracles` map is lazy
  // for the same reason.
  def s16Sql: String =
    s"""WITH bm_full AS (
      |${graft.queries.TextAnalysis.t27Sql}
      |), bm AS (
      |  SELECT query_id, doc_id, rk AS rk_bm FROM bm_full
      |  WHERE query_id IN (SELECT vec_id FROM embeddings)
      |), $elemsSqlCte, norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), dots AS (
      |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
      |         sum((q.v * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM e q JOIN e d ON q.i = d.i AND d.vec_id <> q.vec_id
      |  WHERE q.vec_id % 50 = 0
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT q_id, dots.vec_id AS vec_id,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM dots
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = dots.vec_id
      |), ann AS (
      |  SELECT q_id AS query_id, vec_id AS doc_id, rk_ann FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk_ann
      |    FROM scored) WHERE rk_ann <= 10
      |), fused AS (
      |  SELECT coalesce(bm.query_id, ann.query_id) AS query_id,
      |         coalesce(bm.doc_id, ann.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + ann.rk_ann) + 0.5)::BIGINT, 0) AS rrf_micro,
      |    ((bm.rk_bm IS NOT NULL)::INT + (ann.rk_ann IS NOT NULL)::INT)::BIGINT AS n_lists
      |  FROM bm FULL OUTER JOIN ann USING (query_id, doc_id)
      |), r AS (
      |  SELECT query_id, doc_id, rrf_micro, n_lists,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_micro DESC, doc_id) AS rk
      |  FROM fused)
      |SELECT query_id, doc_id, rrf_micro, n_lists, rk
      |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** S16-IVF: the hybrid RRF retrieval with the dense leg served from the
    * IVF-PQ INDEX — the drop-in [[s16_hybrid_rrf]] declares: instead of
    * brute-force cosine over the whole embedding corpus (O(|Q|·N·D) — the
    * correctness baseline, not the serving shape), the dense list is s13's
    * refine pipeline at the hybrid workload's query contract: ADC at the
    * [[ServingNprobe]] probe width (2 — the width s19's eval
    * decided; cell-pruned against the staged [[ivfpqIndex]], each query
    * touches ~nprobe/cells of the corpus CODES, integer LUT sums), top-10
    * shortlist, exact re-rank of only those 10 raw vectors (sqd ascending,
    * the s13 semantics). The lexical leg and the RRF fusion are unchanged
    * — fusion only ever sees two bounded rank lists, so swapping the dense
    * engine is invisible to it (the two-tower serving property: legs scale
    * independently).
    *
    * Scale shape: the dense leg's cost tracks the cell-pruned code scan,
    * not the corpus (s16's brute-force leg is the baseline it replaces);
    * ADC list contents differ from exact cosine ranking exactly as the
    * index's recall audit (s10) measures. */
  /** The SERVING probe width for every IVF-served retrieval leg (s16-ivf's
    * dense leg, s17-ivf's candidate stream, s19's `dense_ivf_p*` /
    * `hybrid_rrf_ivf_p*` systems): 2, chosen by measurement:
    * [[s19_retrieval_eval]] sweeps p ∈ {1, 2, 4} in one report, and the
    * probed-cell ROUTING CEILINGS measured at sf0.1 are 0.285 / 0.47 /
    * 0.69 recall@5 — each probe buys ceiling at one extra cell scan per
    * query, and p = 2 is the knee (p = 4 pays another 2× scan for
    * proportionally less, and at 10 cells is already 40% of a brute
    * scan). Probes alone did NOT fix the condemned legacy posture — at
    * a depth-10 shortlist the sweep measured p2 = p4 = 0.11, so the
    * recovery comes from [[ServingRerankDepth]] — but probes set the
    * ceiling depth converges to. The oracles unroll this width, and the
    * streaming twin (x38) serves it too. */
  private[graft] val ServingNprobe = 2

  /** The ADC shortlist depth the serving legs hand to the exact re-rank
    * (the R of IVFADC+R): 200, chosen by measurement: at sf0.1
    * the p = 2 ROUTING ceiling (exact search restricted to the probed
    * cells) is recall@5 = 0.47, and the depth sweep at p = 2 converges to
    * it as 0.11 (d = 10) → 0.15 (20) → 0.28 (50) → 0.37 (100) → 0.42
    * (200) ≈ 90% of ceiling — on this corpus the PQ-quantized ADC order
    * is only weakly correlated with exact order (random synthetic
    * embeddings, tiny neighbor margins), so shortlist depth, not probe
    * width, is where the recall went (probes saturate at d = 10:
    * p2 = p4 = 0.11). Depth is the CHEAP axis: it re-ranks |Q|·d raw
    * rows and never touches the corpus-scale ADC scan, whereas each
    * probe adds ~N/cells scanned codes per query. The SERVED list depth
    * stays 10 — this depth is internal to the shortlist → re-rank stage. */
  private[graft] val ServingRerankDepth = 200

  /** The IVF-SERVED dense rank list at the hybrid workload contract:
    * ADC shortlist (depth 10, probe width = [[ServingNprobe]]) + exact
    * re-rank — s16-ivf's dense leg and an [[s19_retrieval_eval]] system
    * under test. Returns (query_id, doc_id, rk_ann), depth 10. */
  private def ivfDenseLeg(s: SparkSession, dir: String): DataFrame =
    ivfRerankLeg(s, dir, ivfpqScored(s, dir, nprobe = ServingNprobe, qmod = 50))

  /** ADC shortlist (depth 10) + exact re-rank (s13's refine discipline)
    * over a given pre-rank scored relation — factored so [[s19_retrieval_eval]]
    * can grade two probe widths from ONE scored relation (`probe = 1`
    * filter vs all probes, s10's audit-contains-its-subjects shape). */
  private def ivfRerankLeg(s: SparkSession, dir: String, scored: DataFrame,
                           qmod: Int = 50,
                           depth: Int = ServingRerankDepth): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val short = scored
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))).cast("long"))
      .filter(col("adc_rank") <= depth)
      .select(col("q_id"), col("vec_id").as("n_id"))
    val q = emb.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
    short
      .join(emb.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sqd_micro",
        floor(sqDist(col("embedding"), col("qemb")) * 1000000.0 + 0.5).cast("long"))
      .withColumn("rk_ann", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sqd_micro"), col("n_id"))).cast("long"))
      .filter(col("rk_ann") <= 10) // the SERVED list depth is unchanged
      .select(col("q_id").as("query_id"), col("n_id").as("doc_id"), col("rk_ann"))
  }

  def s16_hybrid_rrf_ivf(s: SparkSession, dir: String): DataFrame =
    rrfFuse(bm25Leg(s, dir), ivfDenseLeg(s, dir))

  /** s16-ivf oracle: the qmod = 50 IVF-PQ ADC chain, s13's shortlist +
    * exact re-rank CTEs at depth 10, fused with the s16 lexical leg by the
    * same RRF CTEs. def — splices t27Sql (the s16Sql init-cycle note). */
  def s16IvfSql: String =
    s"""WITH bm_full AS (
      |${graft.queries.TextAnalysis.t27Sql}
      |), bm AS (
      |  SELECT query_id, doc_id, rk AS rk_bm FROM bm_full
      |  WHERE query_id IN (SELECT vec_id FROM embeddings)
      |), ${ivfpqAdcCtesMp(50, 2)}, ranked AS (
      |  SELECT q_id, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc
      |), short AS (
      |  SELECT q_id, n_id FROM ranked WHERE rank <= 200
      |), rr AS (
      |  SELECT sh.q_id, sh.n_id,
      |    floor(sum(((eq.v - ed.v) * (eq.v - ed.v))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0 + 0.5)::BIGINT AS sqd_micro
      |  FROM short sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2
      |), annr AS (
      |  SELECT q_id AS query_id, n_id AS doc_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sqd_micro, n_id) AS rk_ann
      |  FROM rr
      |), ann AS (
      |  SELECT query_id, doc_id, rk_ann FROM annr WHERE rk_ann <= 10
      |), fused AS (
      |  SELECT coalesce(bm.query_id, ann.query_id) AS query_id,
      |         coalesce(bm.doc_id, ann.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + ann.rk_ann) + 0.5)::BIGINT, 0) AS rrf_micro,
      |    ((bm.rk_bm IS NOT NULL)::INT + (ann.rk_ann IS NOT NULL)::INT)::BIGINT AS n_lists
      |  FROM bm FULL OUTER JOIN ann USING (query_id, doc_id)
      |), r AS (
      |  SELECT query_id, doc_id, rrf_micro, n_lists,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_micro DESC, doc_id) AS rk
      |  FROM fused)
      |SELECT query_id, doc_id, rrf_micro, n_lists, rk
      |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The SETTLED half of [[s18_ivfpq_incremental]]: coarse quantizer
    * trained on the settled corpus ONLY (seed = settled ids < 10, two
    * Lloyd iterations over settled vectors), settled assignment, a
    * settled-trained residual codebook, and the settled candidate/code
    * tables — exactly the persisted artifact a production vector store
    * keeps warm between crawl increments. Staged per (session, dir). */
  private[graft] def ivfpqSettledIndex(s: SparkSession, dir: String): IvfPqIndex =
    stage(s, ("ivfpqSettled", dir)) {
      val embS = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 10 =!= 0)
      buildIndexOn(embS, trainCoarseOn(embS, 10))
    }

  /** The delta fold of [[s18_ivfpq_incremental]], factored for the
    * append-only spec: delta vectors assigned via the FROZEN settled
    * coarse quantizer and residual-encoded via the FROZEN refined
    * codebook. Returns (delta assignment, delta candidate table, delta
    * codes) — increment work is O(|delta|·(k + codebook)), and nothing
    * settled is recomputed. */
  private[graft] def s18DeltaFold(s: SparkSession, dir: String,
                                  idxS: IvfPqIndex): (DataFrame, DataFrame, DataFrame) = {
    val embD = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 10 === 0)
    val asgD = assignToNearest(embD, idxS.coarse)
      .select(col("vec_id"), col("cluster").as("cell"), col("embedding"), col("cemb"))
      .localCheckpoint() // residual encode + the code-cell join consume it
    val subD = asgD.select(col("vec_id"),
        posexplode(zip_with(col("embedding"), col("cemb"),
          (x, c) => x.cast("double") - c)).as(Seq("i", "v")))
      .select(col("vec_id"), expr("i div 8").as("j"), col("i"), col("v"))
    val candD = pqCand(subD, idxS.cb1) // checkpointed: encoder + delta-query LUT share it
    val codesD = pqEncode(candD)
      .join(asgD.select(col("vec_id"), col("cell")), Seq("vec_id"))
    (asgD, candD, codesD)
  }

  /** The s18 increment's append-fold summary — one row (n_vecs_encoded,
    * n_code_rows, n_cells_touched) over the delta code rows, the same
    * rollup [[c8_gated_increment]]'s append branch reports. Factored for
    * the c20 release composite: the composite's vectors-family ledger
    * reads THIS relation, so its numbers come from the identical
    * frozen-index fold the standalone s18/c8 queries run. */
  private[graft] def s18DeltaSummary(s: SparkSession, dir: String): DataFrame = {
    val (_, _, codesD) = s18DeltaFold(s, dir, ivfpqSettledIndex(s, dir))
    codesD.agg(countDistinct(col("vec_id")).as("n_vecs_encoded"),
               count(lit(1)).as("n_code_rows"),
               countDistinct(col("cell")).as("n_cells_touched"))
  }

  /** The settled vector index's code table, exposed for the cross-family
    * settled-universe consistency pin (every staged artifact must
    * describe the SAME settled corpus — the `% 10 ≠ 0` slice). */
  private[graft] def s18SettledCodes(s: SparkSession, dir: String): DataFrame = {
    ivfpqSettledIndex(s, dir).codes
  }

  /** S18: INCREMENTAL IVF-PQ INDEX MAINTENANCE — t30/d13's
    * settled-vs-delta discipline applied to the VECTOR index: a production
    * ANN deployment never retrains per increment; the coarse quantizer and
    * residual codebook are FROZEN artifacts of the settled corpus
    * (faiss's train-once contract), and each crawl increment only
    * assigns + encodes its own vectors against them and appends the
    * codes. Serving then scores the merged (settled ∪ delta) code table —
    * s7's single-probe ADC machinery unchanged.
    *
    * The frozen-pieces invariant is what makes the increment EXACT: the
    * merged index is bit-identical to an all-at-once encode of the full
    * corpus under the settled-trained quantizer/codebook, which is what
    * the oracle computes — so the incremental engine dataflow hash-matches
    * a batch oracle. (Distribution DRIFT between settled and delta is the
    * residual risk production monitors — t29/x31's KL alarm is exactly
    * the gate that decides when to retrain and rebuild.)
    *
    * Scale shape: increment cost is O(|delta|) broadcasts against the
    * k-row coarse and 32-row codebook relations plus the delta argmin
    * windows; settled codes are never touched (append-only, spec-pinned);
    * the serve is the cell-pruned ADC scan. Queries here are the %100
    * contract — all delta by arithmetic (100 | q ⇒ 10 | q): the
    * new-arrivals-query-the-index serving shape. */
  def s18_ivfpq_incremental(s: SparkSession, dir: String): DataFrame = {
    val idxS = ivfpqSettledIndex(s, dir)
    val (asgD, candD, codesD) = s18DeltaFold(s, dir, idxS)
    val codes = idxS.codes.unionByName(codesD)
    val cand = idxS.cand1.unionByName(candD)
    val asgAll = idxS.asg.select(col("vec_id"), col("cell"))
      .unionByName(asgD.select(col("vec_id"), col("cell")))
    // s7's single-probe fast path over the merged tables: a query's
    // probe-1 cell IS its frozen-coarse assignment, so the LUT reads off
    // the candidate rows the encode already computed
    val lut = cand.filter(col("vec_id") % 100 === 0)
      .join(asgAll, Seq("vec_id"))
      .select(col("vec_id").as("q_id"), col("cell"), col("j"), col("c"),
              floor(col("sqd") * 1000000.0).cast("long").as("lm"))
    codes.join(broadcast(lut), Seq("cell", "j", "c")) // cell-pruned ADC scan
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("cell"), col("vec_id"))
      .agg(sum(col("lm")).as("score_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("cell"), col("vec_id").as("n_id"),
              col("score_micro"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** s18 oracle: the all-at-once batch form of the frozen-index contract —
    * coarse training and codebook refinement restricted to the settled
    * slice (`es`/`subs`), assignment/encode/serve over the FULL corpus
    * against those frozen relations. The engine's settled-build + delta-
    * append dataflow must hash-match this because the frozen pieces make
    * increment order irrelevant. */
  /** The frozen-index CTE chain (settled-restricted training, full-corpus
    * assignment/encode) through the merged `codes` relation — shared by
    * the s18 serve oracle and x34's online-ingest oracle. */
  private val s18IndexCtes: String = {
    val settledTrain =
      s"""es AS (
         |  SELECT * FROM e WHERE vec_id % 10 <> 0
         |), c0 AS (
         |  SELECT vec_id AS cluster, i, v AS cv FROM es WHERE vec_id < 10
         |), c1 AS (
         |${assignAndMeanSql("c0", "es")}
         |), c2 AS (
         |${assignAndMeanSql("c1", "es")}
         |)""".stripMargin
    s"""$elemsSqlCte, $settledTrain, asg AS (
      |  SELECT vec_id, cluster AS cell FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), sub AS (
      |  SELECT e.vec_id, e.i // 8 AS j, e.i, e.v - c.cv AS v
      |  FROM e JOIN asg a USING (vec_id) JOIN c2 c ON c.cluster = a.cell AND c.i = e.i
      |), subs AS (
      |  SELECT * FROM sub WHERE vec_id % 10 <> 0
      |), $pqCb0Cte,
      |${pqCandCte("cand0", "cb0", "subs")},
      |${pqEncCte("enc0", "cand0")},
      |cb1 AS (
      |  SELECT s.j, en.c, s.i,
      |         sum((s.v)::DECIMAL(30,20))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM subs s JOIN enc0 en ON en.vec_id = s.vec_id AND en.j = s.j
      |  GROUP BY 1, 2, 3
      |),
      |${pqCandCte("cand1", "cb1")},
      |${pqEncCte("enc1", "cand1")},
      |codes AS (
      |  SELECT en.vec_id, a.cell, en.j, en.c FROM enc1 en JOIN asg a USING (vec_id)
      |)""".stripMargin
  }

  /** x34's oracle: the frozen-index chain's DELTA code rows — exactly the
    * rows the online ingest must emit per arriving delta vector. */
  def s18DeltaCodesSql: String =
    s"""WITH $s18IndexCtes
      |SELECT vec_id, cell, j::BIGINT AS j, c FROM codes
      |WHERE vec_id % 10 = 0 ORDER BY vec_id, j""".stripMargin

  /** The c8 drift gate: given a per-cell occupancy relation
    * `(cell, dc, sc)` over the FULL trained cell inventory (delta and
    * settled counts, zero-filled), compute t29's micro-nat add-one KL of
    * the delta occupancy against the settled occupancy — one row
    * (n_settled, n_delta, k_cells, kl). Factored so `SimilaritySpec` can
    * pin both gate outcomes on engineered drifted/undrifted histograms. */
  private[graft] def c8KlGate(base: DataFrame): DataFrame = {
    // totals via a 1-row aggregate + cross join, not a global window — the
    // relation is ≤ k rows either way, but a partitionless window would
    // emit the single-partition warning the bench greps for
    val tot = base.agg(sum(col("dc")).as("dt"), sum(col("sc")).as("st"),
                       count(lit(1)).as("k"))
    base.crossJoin(tot)
      .withColumn("contrib", (col("dc") + 1) *
        (floor(log((col("dc") + 1).cast("double") / (col("dt") + col("k")))
           * 1000000.0 + 0.5).cast("long")
         - floor(log((col("sc") + 1).cast("double") / (col("st") + col("k")))
             * 1000000.0 + 0.5).cast("long")))
      .groupBy()
      .agg(max(col("st")).as("n_settled"), max(col("dt")).as("n_delta"),
           max(col("k")).as("k_cells"), sum(col("contrib")).as("kl_scaled"))
      .withColumn("kl", round4(col("kl_scaled").cast("double") / 1000000.0 /
                               (col("n_delta") + col("k_cells"))))
      .select(col("n_settled"), col("n_delta"), col("k_cells"), col("kl"))
  }

  /** [[c8_gated_increment]]'s KL threshold for retraining (t29's). */
  private[graft] val C8RetrainKl = 0.05

  /** C8: the DRIFT-GATED INCREMENT — the composition s18's scaladoc
    * delegated to prose, now code: a production vector store does not
    * append blindly; each crawl increment is admitted through a drift
    * gate, and the gate's verdict selects between the O(delta) append
    * fold (s18's frozen-artifact encode) and a full retrain+rebuild.
    * The drift signal is the vector-native analogue of t29's text alarm:
    * the delta's CELL-OCCUPANCY distribution under the FROZEN settled
    * quantizer vs the settled occupancy, as add-one-smoothed KL on t29's
    * exact micro-nat integer grid over the trained cell inventory — a
    * shifted embedding distribution piles delta vectors into cells the
    * settled corpus rarely used, which is precisely when frozen centroids
    * stop representing the data and PQ residuals grow (the
    * retrain-trigger production monitors; threshold [[C8RetrainKl]],
    * t29's 0.05).
    *
    * The decision is a 1-row control-plane read (sanctioned
    * `boundedCollect` — a retrain trigger IS a driver-side decision in
    * any engine); the chosen branch's work is then summarized: vectors
    * encoded, code rows written, cells touched. The delta here is a
    * uniform `vec_id % 10` slice — no true drift — but the MEASURED gate
    * behavior is SF-dependent exactly as t29's spec predicts: add-one
    * smoothing carries a ≈K/2N small-sample bias, so at sf0.01 (50 delta
    * vectors over 9 cells) kl reads 0.0524 and the RETRAIN branch fires
    * (the oracle's CASE follows — retrain-branch parity is oracle-proven,
    * not just spec-proven), while from sf0.1 up the bias decays
    * (kl ≈ 0.008) and the APPEND branch fires. Both gate outcomes are
    * additionally pinned deterministically in `SimilaritySpec` on
    * engineered drifted/undrifted histograms. The retrain dataflow is the
    * staged whole-corpus rebuild ([[ivfpqIndex]]: quantizer + codebook
    * retrained on settled ∪ delta, every vector re-encoded).
    *
    * Scale shape: the gate costs one ≤ k-row aggregation over the
    * assignment relations the increment already computes (the delta
    * assignment IS the append fold's first stage — measuring drift adds
    * no corpus pass), and the append branch stays O(delta). */
  def c8_gated_increment(s: SparkSession, dir: String): DataFrame = {
    val thr = C8RetrainKl
    val idxS = ivfpqSettledIndex(s, dir)
    val (asgD, _, codesD) = s18DeltaFold(s, dir, idxS)
    val hist = idxS.asg.select(col("cell"), lit(false).as("is_delta"))
      .unionByName(asgD.select(col("cell"), lit(true).as("is_delta")))
      .groupBy(col("cell"))
      .agg(sum(when(col("is_delta"), 1L).otherwise(0L)).as("dc"),
           sum(when(!col("is_delta"), 1L).otherwise(0L)).as("sc"))
    val base = idxS.coarse.select(col("cluster").as("cell"))
      .join(hist, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("dc"), lit(0L)).as("dc"),
              coalesce(col("sc"), lit(0L)).as("sc"))
    val row = graft.plans.BroadcastContract.boundedCollect(
      graft.plans.BroadcastContract.boundedCheckpoint(c8KlGate(base),
        "c8 drift gate: one global-aggregate row by construction"),
      "c8 retrain decision: 1-row control-plane read")(0)
    val (nS, nD, kC, kl) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    val drifted = kl > thr
    val branchCodes =
      if (drifted) ivfpqIndex(s, dir).codes // retrain on settled ∪ delta
      else codesD                               // s18's O(delta) append fold
    branchCodes
      .agg(countDistinct(col("vec_id")).as("n_vecs_encoded"),
           count(lit(1)).as("n_code_rows"),
           countDistinct(col("cell")).as("n_cells_touched"))
      .select(lit(nS).as("n_settled"), lit(nD).as("n_delta"),
              lit(kC).as("k_cells"), lit(kl).as("kl"),
              lit(if (drifted) "retrain" else "append").as("decision"),
              col("n_vecs_encoded"), col("n_code_rows"), col("n_cells_touched"))
  }

  /** c8 oracle: the frozen settled-index chain (the histogram and append
    * summary read off `asg`/`codes`), the KL gate verbatim, a RENAMED
    * full-corpus retrain chain (rc0→rcodes — both branch summaries are
    * real relations, the CASE selects), one decision row. */
  val c8Sql: String =
    s"""WITH $s18IndexCtes, hist AS (
      |  SELECT a.cell,
      |    sum(CASE WHEN a.vec_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS dc,
      |    sum(CASE WHEN a.vec_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS sc
      |  FROM asg a GROUP BY 1
      |), space AS (
      |  SELECT DISTINCT cluster AS cell FROM c2
      |), base AS (
      |  SELECT s.cell, coalesce(h.dc, 0)::BIGINT AS dc,
      |         coalesce(h.sc, 0)::BIGINT AS sc
      |  FROM space s LEFT JOIN hist h USING (cell)
      |), klrow AS (
      |  SELECT max(dt)::BIGINT AS n_delta, max(st)::BIGINT AS n_settled,
      |    max(k)::BIGINT AS k_cells,
      |    floor(sum(contrib)::DOUBLE / 1000000.0 / (max(dt) + max(k))
      |          * 10000.0 + 0.5) / 10000.0 AS kl
      |  FROM (
      |    SELECT dc, sc,
      |      sum(dc) OVER ()::BIGINT AS dt, sum(sc) OVER ()::BIGINT AS st,
      |      count(*) OVER () AS k,
      |      (dc + 1) * (floor(ln((dc + 1)::DOUBLE
      |            / (sum(dc) OVER () + count(*) OVER ())) * 1000000.0 + 0.5)::BIGINT
      |        - floor(ln((sc + 1)::DOUBLE
      |            / (sum(sc) OVER () + count(*) OVER ())) * 1000000.0 + 0.5)::BIGINT)
      |        AS contrib
      |    FROM base)
      |), rc0 AS (
      |  SELECT vec_id AS cluster, i, v AS cv FROM e WHERE vec_id < 10
      |), rc1 AS (
      |${assignAndMeanSql("rc0", "e")}
      |), rc2 AS (
      |${assignAndMeanSql("rc1", "e")}
      |), rasg AS (
      |  SELECT vec_id, cluster AS cell FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN rc2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), rsub AS (
      |  SELECT e.vec_id, e.i // 8 AS j, e.i, e.v - c.cv AS v
      |  FROM e JOIN rasg a USING (vec_id) JOIN rc2 c ON c.cluster = a.cell AND c.i = e.i
      |), rcb0 AS (
      |  SELECT vec_id AS c, j, i, v AS cv FROM rsub WHERE vec_id IN (1, 2, 3, 4)
      |),
      |${pqCandCte("rcand0", "rcb0", "rsub")},
      |${pqEncCte("renc0", "rcand0")},
      |rcb1 AS (
      |  SELECT s.j, en.c, s.i,
      |         sum((s.v)::DECIMAL(30,20))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM rsub s JOIN renc0 en ON en.vec_id = s.vec_id AND en.j = s.j
      |  GROUP BY 1, 2, 3
      |),
      |${pqCandCte("rcand1", "rcb1", "rsub")},
      |${pqEncCte("renc1", "rcand1")},
      |rcodes AS (
      |  SELECT en.vec_id, a.cell, en.j, en.c FROM renc1 en JOIN rasg a USING (vec_id)
      |), ap AS (
      |  SELECT count(DISTINCT vec_id)::BIGINT AS nv, count(*)::BIGINT AS nr,
      |         count(DISTINCT cell)::BIGINT AS nc
      |  FROM codes WHERE vec_id % 10 = 0
      |), rb AS (
      |  SELECT count(DISTINCT vec_id)::BIGINT AS nv, count(*)::BIGINT AS nr,
      |         count(DISTINCT cell)::BIGINT AS nc
      |  FROM rcodes
      |)
      |SELECT k.n_settled, k.n_delta, k.k_cells, k.kl,
      |  CASE WHEN k.kl > 0.05 THEN 'retrain' ELSE 'append' END AS decision,
      |  CASE WHEN k.kl > 0.05 THEN rb.nv ELSE ap.nv END AS n_vecs_encoded,
      |  CASE WHEN k.kl > 0.05 THEN rb.nr ELSE ap.nr END AS n_code_rows,
      |  CASE WHEN k.kl > 0.05 THEN rb.nc ELSE ap.nc END AS n_cells_touched
      |FROM klrow k, ap, rb""".stripMargin

  val s18Sql: String = {
    s"""WITH $s18IndexCtes, qcell AS (
      |  SELECT vec_id AS q_id, cell FROM asg WHERE vec_id % 100 = 0
      |), lut AS (
      |  SELECT ca.vec_id AS q_id, qc.cell, ca.j, ca.c,
      |         floor(ca.sqd * 1000000.0)::BIGINT AS lm
      |  FROM cand1 ca JOIN qcell qc ON qc.q_id = ca.vec_id
      |), sc AS (
      |  SELECT l.q_id, l.cell, d.vec_id AS n_id, sum(l.lm)::BIGINT AS score_micro
      |  FROM codes d JOIN lut l ON l.cell = d.cell AND l.j = d.j AND l.c = d.c
      |  WHERE d.vec_id <> l.q_id GROUP BY 1, 2, 3
      |), ranked AS (
      |  SELECT q_id, cell, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc)
      |SELECT q_id, cell, n_id, score_micro, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** S17: HARD-NEGATIVE MINING — the pair miner that feeds contrastive
    * embedding training (SimCSE/DPR-style): for each anchor, the k most
    * SIMILAR vectors with a DIFFERENT label — near the anchor in embedding
    * space yet semantically distinct, exactly the negatives that sharpen a
    * metric model (random negatives are trivially easy; same-label
    * neighbors are s11's positives). Completes the embedding-training
    * story: c2 curates, s11 builds the positive graph, s17 mines the
    * negatives.
    *
    * The predicate class is new in the s-suite: PER-QUERY DYNAMIC
    * (label ≠ anchor's own label — each query excludes a different slice),
    * where s15's filter is static. Pre-filter semantics as a join
    * condition: the inequality rides the same broadcast join as the query
    * pairing, so ineligible rows never reach scoring or ranking. Bounded
    * query side (s1's mod-100 contract); top-3 per anchor via
    * WindowGroupLimit. */
  def s17_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
              col("embedding").as("qemb"), col("n2").as("qn2"))
    emb.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cosine", round4(dot(col("embedding"), col("qemb")) /
                                   sqrt(col("qn2") * col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
              col("label").as("n_label"), col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val s17Sql: String =
    s"""WITH $elemsSqlCte, norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), lab AS (SELECT DISTINCT vec_id, label FROM e),
      |dots AS (
      |  SELECT q.vec_id AS q_id, lq.label AS q_label, d.vec_id AS n_id,
      |         ld.label AS n_label,
      |         sum((q.v * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM e q
      |  JOIN lab lq ON lq.vec_id = q.vec_id
      |  JOIN e d ON d.i = q.i
      |  JOIN lab ld ON ld.vec_id = d.vec_id AND ld.label <> lq.label
      |  WHERE q.vec_id % 100 = 0
      |  GROUP BY 1, 2, 3, 4
      |), scored AS (
      |  SELECT q_id, q_label, n_id, n_label,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM dots
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = n_id
      |), ranked AS (
      |  SELECT q_id, q_label, n_id, n_label, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, q_label, n_id, n_label, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** S17-IVF: hard-negative mining SERVED FROM THE IVF-PQ INDEX — the
    * drop-in [[s17_hard_negatives]] declares (its brute-force scan is the
    * correctness baseline, O(|Q|·N·D)): the candidate stream is the staged
    * index's ADC scan at the [[ServingNprobe]] probe width (cell-pruned
    * integer LUT sums), the per-query DYNAMIC label ≠ predicate filters that
    * stream BEFORE any ranking (s15's pre-filter semantics — ineligible
    * same-label rows never occupy a shortlist slot, so the depth-10
    * shortlist is 10 *eligible* negatives, not 10-minus-collisions), and
    * the surviving shortlist is exactly re-ranked by true cosine (s13's
    * refine discipline) for the top-3 hardest negatives per anchor.
    *
    * Scale shape: the label predicate evaluates on the scored candidate
    * relation — one row per (query, candidate in the probed cell), already
    * ~1/cells of the corpus; at production cell counts it pushes further
    * down to the code scan as a label column on the code table (same
    * relational move s15 makes below the cell join). The re-rank touches
    * R = 10 raw vectors per query; fusion of the two ranking stages stays
    * inside one narrow-shuffle window chain (scalar columns only). ADC
    * shortlist contents differ from the exact scan exactly as s10's recall
    * audit measures — the standard serving trade, here on the mining path
    * that feeds contrastive training. */
  def s17_hard_negatives_ivf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val lab = emb.select(col("vec_id"), col("label"))
    // eligible ADC candidates: the dynamic label ≠ predicate rides the
    // bounded query-label broadcast, BEFORE the shortlist window
    val short = ivfpqScored(s, dir, nprobe = ServingNprobe)
      .join(lab.withColumnRenamed("label", "n_label"), Seq("vec_id"))
      .join(broadcast(lab.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))), Seq("q_id"))
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score_micro"), col("vec_id"))).cast("long"))
      .filter(col("adc_rank") <= ServingRerankDepth)
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"), col("n_label"))
    // exact cosine re-rank of the ≤ 10 eligible survivors (s13's refine)
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"),
              col("n2").as("qn2"))
    short
      .join(emb.select(col("vec_id").as("n_id"), col("embedding"), col("n2")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine", round4(dot(col("embedding"), col("qemb")) /
                                   sqrt(col("qn2") * col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
              col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** s17-ivf oracle: the qmod = 100 multi-probe ADC chain at the serving
    * default p = 2, label-filtered shortlist at depth 10, exact cosine
    * re-rank → top-3. */
  val s17IvfSql: String =
    s"""WITH ${ivfpqAdcCtesMp(100, 2)}, lab AS (SELECT DISTINCT vec_id, label FROM e),
      |scf AS (
      |  SELECT sc.q_id, lq.label AS q_label, sc.n_id, ld.label AS n_label,
      |         sc.score_micro
      |  FROM sc
      |  JOIN lab lq ON lq.vec_id = sc.q_id
      |  JOIN lab ld ON ld.vec_id = sc.n_id AND ld.label <> lq.label
      |), short AS (
      |  SELECT q_id, q_label, n_id, n_label FROM (
      |    SELECT q_id, q_label, n_id, n_label,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY score_micro, n_id) AS adc_rank
      |    FROM scf)
      |  WHERE adc_rank <= 200
      |), norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2
      |  FROM e GROUP BY 1
      |), rr AS (
      |  SELECT sh.q_id, sh.q_label, sh.n_id, sh.n_label,
      |         sum((eq.v * ed.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM short sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2, 3, 4
      |), scored AS (
      |  SELECT q_id, q_label, n_id, n_label,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM rr
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = n_id
      |), ranked AS (
      |  SELECT q_id, q_label, n_id, n_label, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, q_label, n_id, n_label, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** S19: RETRIEVAL-QUALITY EVAL — the eval harness that closes the
    * retrieval wing: every production search stack reports recall@k and
    * MRR against a ground-truth run before a serving change ships, and
    * this query IS that report. Systems under test: the lexical leg
    * (t27's BM25 at depth 5), the IVF-served dense leg (ADC shortlist +
    * re-rank at depth 5) SWEPT across probe widths p ∈ {1, 2, 4} (the
    * narrower widths are probe filters of ONE scored relation, so the
    * report prices the serving probe width itself, not separate
    * indexes), and FOUR fused hybrids — brute ([[s16_hybrid_rrf]]'s
    * form, riding the already-built ground-truth relation) and
    * IVF-served at each probe width ([[s16_hybrid_rrf_ivf]]'s top-5 is
    * the p = 2 row) — so the hybrid_rrf vs hybrid_rrf_ivf_p* deltas
    * price exactly what the index costs the FUSED product at each point
    * of the sweep. Ground truth: the exact
    * brute-force cosine top-5 over the shared qmod = 50 workload
    * ([[exactDenseLeg]] — the same relation s16's correctness-baseline
    * dense leg ranks). Per system: universe size, queries answered
    * (coverage IS part of the result — a lexical system cannot answer a
    * query whose terms its index never saw), total truth-hits,
    * recall@5 = hits / 5·|universe|, and MRR@5 of the ground-truth top-1.
    *
    * Same audit class as s8/s10/s12/c2-audit: the eval CONTAINS its
    * subjects (one exact pass + the systems under test), runs on the
    * bounded query contract, and the comparison joins are |Q|·k rows per
    * side — at 100 TB this is the sampled-eval job that gates an index
    * deploy, and the number it prints is the one that decides between
    * the brute, IVF, and hybrid serving shapes.
    *
    * Honest read of the numbers on THIS testdata: the synthetic corpus
    * carries no text ↔ embedding correlation, so the lexical leg scores
    * ~zero against dense ground truth and the IVF legs report exactly the
    * index's recall loss (s10's measurement seen through the eval lens) —
    * the harness measures real systems over data with no signal in it,
    * which is precisely why the report prints the number instead of
    * assuming one. The report grades the probe lever
    * directly (p ∈ {1, 2, 4} at the serving depth): at sf0.1 the dense
    * rows read 0.285 / 0.42 / 0.525 — the deploy-gate measurement behind
    * [[ServingNprobe]] = 2 and [[ServingRerankDepth]] = 200, under which
    * the fused product recovered 0.085 → 0.35 against the 0.505
    * brute-fused bar (fused trails dense because RRF dilutes with the
    * zero-signal lexical leg — this corpus's honest ceiling). The
    * `_p2_d10` rows keep the DEPTH axis in the gated artifact: they
    * serve a depth-10 shortlist at the default probe
    * width, so the report itself shows why the depth sweep — not more
    * probes — was the recall fix. */
  def s19_retrieval_eval(s: SparkSession, dir: String): DataFrame = {
    val truth10 = exactDenseLeg(s, dir)
    val truth5 = truth10.filter(col("rk_ann") <= 5)
      .select(col("query_id"), col("doc_id"))
    val top1 = truth10.filter(col("rk_ann") === 1)
      .select(col("query_id"), col("doc_id").as("top1"))
    val universe = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 50 === 0).select(col("vec_id").as("query_id"))
    // each leg's plan is built ONCE and shared between its system row and
    // the fusion — identical subtrees, so ReusedExchange fires instead of
    // a second t27/ADC execution. The brute fusion (s16's exact dense leg)
    // rides the already-built ground-truth relation, so the 4th system
    // costs one extra fusion join, not a second corpus scan — and its row
    // directly prices what the IVF index costs the FUSED product
    // (hybrid_rrf vs hybrid_rrf_ivf), not just the dense list.
    val bm10 = bm25Leg(s, dir)
    // ONE multi-probe scored relation serves BOTH probe widths (s10's
    // audit-contains-its-subjects shape): the p = 1 systems are a probe
    // filter of the same checkpointed relation, so the report prices the
    // serving probe width itself — same index, same queries, only the
    // probe width moves — not two independently-built indexes.
    val scored = ivfpqScored(s, dir, nprobe = 4, qmod = 50).localCheckpoint()
    val ivfLegs = Seq(1, 2, 4).map(p =>
      s"p$p" -> ivfRerankLeg(s, dir, scored.filter(col("probe") <= p))) :+
      // the legacy depth-10 shortlist at the default probe width: keeps the
      // depth axis IN the gated artifact — this row is the rounds-5-8
      // serving posture the depth study condemned
      ("p2_d10" -> ivfRerankLeg(s, dir, scored.filter(col("probe") <= 2),
                                depth = 10))
    val lists = (
      Seq(("bm25", bm10.filter(col("rk_bm") <= 5)
            .select(col("query_id"), col("doc_id"), col("rk_bm").as("rk"))),
          ("hybrid_rrf", rrfFuse(bm10, truth10)
            .select(col("query_id"), col("doc_id"), col("rk"))))
      ++ ivfLegs.map { case (tag, leg) =>
          (s"dense_ivf_$tag", leg.filter(col("rk_ann") <= 5)
            .select(col("query_id"), col("doc_id"), col("rk_ann").as("rk"))) }
      ++ ivfLegs.map { case (tag, leg) =>
          (s"hybrid_rrf_ivf_$tag", rrfFuse(bm10, leg)
            .select(col("query_id"), col("doc_id"), col("rk"))) })
      .map { case (name, df) => df.withColumn("system", lit(name)) }
      .reduce(_ unionByName _)
      .join(broadcast(universe), Seq("query_id")) // dense-universe eval
    val perQ = lists
      .join(truth5.withColumn("hit", lit(1L)), Seq("query_id", "doc_id"), "left")
      .join(broadcast(top1), Seq("query_id"))
      .groupBy(col("system"), col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits5"),
           max(when(col("doc_id") === col("top1"),
             floor(lit(1000000.0) / col("rk") + 0.5).cast("long"))).as("rr_micro"))
    // every (system, universe-query) cell: a system that returned nothing
    // for a query scores zero — absence is data, not a dropped row
    universe.select(col("query_id"),
        explode(array(lit("bm25"), lit("dense_ivf_p1"), lit("dense_ivf_p2"),
                      lit("dense_ivf_p2_d10"), lit("dense_ivf_p4"),
                      lit("hybrid_rrf"), lit("hybrid_rrf_ivf_p1"),
                      lit("hybrid_rrf_ivf_p2"), lit("hybrid_rrf_ivf_p2_d10"),
                      lit("hybrid_rrf_ivf_p4"))).as("system"))
      .join(perQ, Seq("system", "query_id"), "left")
      .groupBy(col("system"))
      .agg(count(lit(1)).as("n_queries"),
           sum(when(col("hits5").isNotNull, 1L).otherwise(0L)).as("n_answered"),
           sum(coalesce(col("hits5"), lit(0L))).as("hits_total"),
           sum(coalesce(col("rr_micro"), lit(0L))).as("rr_micro_total"))
      .select(col("system"), col("n_queries"), col("n_answered"), col("hits_total"),
              round4(col("hits_total").cast("double") / (col("n_queries") * lit(5.0)))
                .as("recall_at_5"),
              round4(col("rr_micro_total").cast("double") / col("n_queries") / lit(1000000.0))
                .as("mrr"))
      .orderBy("system")
  }

  /** s19 oracle: one t27 splice, ONE qmod = 50 multi-probe ADC chain at
    * the serving default p = 2 (the p = 1 systems are `probe = 1` filters
    * of the same scored relation — exactly the Spark dataflow), the exact
    * cosine ground truth, the ten system lists (incl. the legacy
    * depth-10 p = 2 posture rows), then the per-cell eval
    * aggregation. def — splices t27Sql (the s16Sql init-cycle note). */
  def s19Sql: String =
    s"""WITH bm_full AS (
      |${graft.queries.TextAnalysis.t27Sql}
      |), bm10 AS (
      |  SELECT query_id, doc_id, rk AS rk_bm FROM bm_full
      |  WHERE query_id IN (SELECT vec_id FROM embeddings)
      |), bm5 AS (
      |  SELECT query_id, doc_id, rk_bm AS rk FROM bm10 WHERE rk_bm <= 5
      |), ${ivfpqAdcCtesMp(50, 4)}, adcrk1 AS (
      |  SELECT q_id, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc WHERE probe = 1
      |), short10_1 AS (
      |  SELECT q_id, n_id FROM adcrk1 WHERE rank <= 200
      |), rrx1 AS (
      |  SELECT sh.q_id, sh.n_id,
      |    floor(sum(((eq.v - ed.v) * (eq.v - ed.v))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0 + 0.5)::BIGINT AS sqd_micro
      |  FROM short10_1 sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2
      |), ivf10r_1 AS (
      |  SELECT q_id AS query_id, n_id AS doc_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sqd_micro, n_id) AS rk_ann
      |  FROM rrx1
      |), ivf10_1 AS (
      |  SELECT query_id, doc_id, rk_ann FROM ivf10r_1 WHERE rk_ann <= 10
      |), ivf5_1 AS (
      |  SELECT query_id, doc_id, rk_ann AS rk FROM ivf10_1 WHERE rk_ann <= 5
      |), adcrk2 AS (
      |  SELECT q_id, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc WHERE probe <= 2
      |), short10_2 AS (
      |  SELECT q_id, n_id FROM adcrk2 WHERE rank <= 200
      |), rrx2 AS (
      |  SELECT sh.q_id, sh.n_id,
      |    floor(sum(((eq.v - ed.v) * (eq.v - ed.v))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0 + 0.5)::BIGINT AS sqd_micro
      |  FROM short10_2 sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2
      |), ivf10r_2 AS (
      |  SELECT q_id AS query_id, n_id AS doc_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sqd_micro, n_id) AS rk_ann
      |  FROM rrx2
      |), ivf10_2 AS (
      |  SELECT query_id, doc_id, rk_ann FROM ivf10r_2 WHERE rk_ann <= 10
      |), ivf5_2 AS (
      |  SELECT query_id, doc_id, rk_ann AS rk FROM ivf10_2 WHERE rk_ann <= 5
      |), short10_2s AS (
      |  SELECT q_id, n_id FROM adcrk2 WHERE rank <= 10
      |), rrx2s AS (
      |  SELECT sh.q_id, sh.n_id,
      |    floor(sum(((eq.v - ed.v) * (eq.v - ed.v))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0 + 0.5)::BIGINT AS sqd_micro
      |  FROM short10_2s sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2
      |), ivf10r_2s AS (
      |  SELECT q_id AS query_id, n_id AS doc_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sqd_micro, n_id) AS rk_ann
      |  FROM rrx2s
      |), ivf10_2s AS (
      |  SELECT query_id, doc_id, rk_ann FROM ivf10r_2s WHERE rk_ann <= 10
      |), ivf5_2s AS (
      |  SELECT query_id, doc_id, rk_ann AS rk FROM ivf10_2s WHERE rk_ann <= 5
      |), adcrk4 AS (
      |  SELECT q_id, n_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro, n_id) AS rank
      |  FROM sc
      |), short10_4 AS (
      |  SELECT q_id, n_id FROM adcrk4 WHERE rank <= 200
      |), rrx4 AS (
      |  SELECT sh.q_id, sh.n_id,
      |    floor(sum(((eq.v - ed.v) * (eq.v - ed.v))::DECIMAL(30,20))::VARCHAR::DOUBLE
      |          * 1000000.0 + 0.5)::BIGINT AS sqd_micro
      |  FROM short10_4 sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.n_id AND ed.i = eq.i
      |  GROUP BY 1, 2
      |), ivf10r_4 AS (
      |  SELECT q_id AS query_id, n_id AS doc_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sqd_micro, n_id) AS rk_ann
      |  FROM rrx4
      |), ivf10_4 AS (
      |  SELECT query_id, doc_id, rk_ann FROM ivf10r_4 WHERE rk_ann <= 10
      |), ivf5_4 AS (
      |  SELECT query_id, doc_id, rk_ann AS rk FROM ivf10_4 WHERE rk_ann <= 5
      |), norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), dotsx AS (
      |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
      |         sum((q.v * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM e q JOIN e d ON q.i = d.i AND d.vec_id <> q.vec_id
      |  WHERE q.vec_id % 50 = 0
      |  GROUP BY 1, 2
      |), truth10 AS (
      |  SELECT q_id AS query_id, dotsx.vec_id AS doc_id,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 DESC,
      |               dotsx.vec_id) AS rk
      |  FROM dotsx
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = dotsx.vec_id
      |), truth5 AS (
      |  SELECT query_id, doc_id FROM truth10 WHERE rk <= 5
      |), top1 AS (
      |  SELECT query_id, doc_id AS top1 FROM truth10 WHERE rk = 1
      |), fusedx1 AS (
      |  SELECT coalesce(bm10.query_id, ivf10_1.query_id) AS query_id,
      |         coalesce(bm10.doc_id, ivf10_1.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm10.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + ivf10_1.rk_ann) + 0.5)::BIGINT, 0) AS rrf_micro
      |  FROM bm10 FULL OUTER JOIN ivf10_1 USING (query_id, doc_id)
      |), hyb5_1 AS (
      |  SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, rrf_micro,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rrf_micro DESC, doc_id) AS rk
      |    FROM fusedx1)
      |  WHERE rk <= 5
      |), fusedx2 AS (
      |  SELECT coalesce(bm10.query_id, ivf10_2.query_id) AS query_id,
      |         coalesce(bm10.doc_id, ivf10_2.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm10.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + ivf10_2.rk_ann) + 0.5)::BIGINT, 0) AS rrf_micro
      |  FROM bm10 FULL OUTER JOIN ivf10_2 USING (query_id, doc_id)
      |), hyb5_2 AS (
      |  SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, rrf_micro,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rrf_micro DESC, doc_id) AS rk
      |    FROM fusedx2)
      |  WHERE rk <= 5
      |), fusedx2s AS (
      |  SELECT coalesce(bm10.query_id, ivf10_2s.query_id) AS query_id,
      |         coalesce(bm10.doc_id, ivf10_2s.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm10.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + ivf10_2s.rk_ann) + 0.5)::BIGINT, 0) AS rrf_micro
      |  FROM bm10 FULL OUTER JOIN ivf10_2s USING (query_id, doc_id)
      |), hyb5_2s AS (
      |  SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, rrf_micro,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rrf_micro DESC, doc_id) AS rk
      |    FROM fusedx2s)
      |  WHERE rk <= 5
      |), fusedx4 AS (
      |  SELECT coalesce(bm10.query_id, ivf10_4.query_id) AS query_id,
      |         coalesce(bm10.doc_id, ivf10_4.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm10.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + ivf10_4.rk_ann) + 0.5)::BIGINT, 0) AS rrf_micro
      |  FROM bm10 FULL OUTER JOIN ivf10_4 USING (query_id, doc_id)
      |), hyb5_4 AS (
      |  SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, rrf_micro,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rrf_micro DESC, doc_id) AS rk
      |    FROM fusedx4)
      |  WHERE rk <= 5
      |), fusedb AS (
      |  SELECT coalesce(bm10.query_id, t10.query_id) AS query_id,
      |         coalesce(bm10.doc_id, t10.doc_id) AS doc_id,
      |    coalesce(floor(1000000.0 / (60 + bm10.rk_bm) + 0.5)::BIGINT, 0)
      |    + coalesce(floor(1000000.0 / (60 + t10.rk) + 0.5)::BIGINT, 0) AS rrf_micro
      |  FROM bm10 FULL OUTER JOIN
      |    (SELECT query_id, doc_id, rk FROM truth10 WHERE rk <= 10) t10
      |    USING (query_id, doc_id)
      |), hybb5 AS (
      |  SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, rrf_micro,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rrf_micro DESC, doc_id) AS rk
      |    FROM fusedb)
      |  WHERE rk <= 5
      |), sys AS (
      |  SELECT 'bm25' AS system, query_id, doc_id, rk FROM bm5
      |  UNION ALL SELECT 'dense_ivf_p1', query_id, doc_id, rk FROM ivf5_1
      |  UNION ALL SELECT 'dense_ivf_p2', query_id, doc_id, rk FROM ivf5_2
      |  UNION ALL SELECT 'hybrid_rrf', query_id, doc_id, rk FROM hybb5
      |  UNION ALL SELECT 'hybrid_rrf_ivf_p1', query_id, doc_id, rk FROM hyb5_1
      |  UNION ALL SELECT 'hybrid_rrf_ivf_p2', query_id, doc_id, rk FROM hyb5_2
      |  UNION ALL SELECT 'dense_ivf_p4', query_id, doc_id, rk FROM ivf5_4
      |  UNION ALL SELECT 'hybrid_rrf_ivf_p4', query_id, doc_id, rk FROM hyb5_4
      |  UNION ALL SELECT 'dense_ivf_p2_d10', query_id, doc_id, rk FROM ivf5_2s
      |  UNION ALL SELECT 'hybrid_rrf_ivf_p2_d10', query_id, doc_id, rk FROM hyb5_2s
      |), univ AS (
      |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0
      |), perq AS (
      |  SELECT sy.system, sy.query_id,
      |    sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits5,
      |    max(CASE WHEN sy.doc_id = o.top1
      |        THEN floor(1000000.0 / sy.rk + 0.5)::BIGINT END) AS rr_micro
      |  FROM sys sy
      |  JOIN univ u ON u.query_id = sy.query_id
      |  LEFT JOIN truth5 t ON t.query_id = sy.query_id AND t.doc_id = sy.doc_id
      |  JOIN top1 o ON o.query_id = sy.query_id
      |  GROUP BY 1, 2
      |), cells AS (
      |  SELECT u.query_id, sn.system FROM univ u
      |  CROSS JOIN (VALUES ('bm25'), ('dense_ivf_p1'), ('dense_ivf_p2'),
      |              ('dense_ivf_p2_d10'), ('dense_ivf_p4'), ('hybrid_rrf'),
      |              ('hybrid_rrf_ivf_p1'), ('hybrid_rrf_ivf_p2'),
      |              ('hybrid_rrf_ivf_p2_d10'), ('hybrid_rrf_ivf_p4')) AS sn(system)
      |)
      |SELECT c.system, count(*)::BIGINT AS n_queries,
      |  sum(CASE WHEN p.hits5 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_answered,
      |  sum(coalesce(p.hits5, 0))::BIGINT AS hits_total,
      |  floor(sum(coalesce(p.hits5, 0))::DOUBLE / (count(*) * 5.0) * 10000.0 + 0.5)
      |    / 10000.0 AS recall_at_5,
      |  floor(sum(coalesce(p.rr_micro, 0))::DOUBLE / count(*) / 1000000.0 * 10000.0 + 0.5)
      |    / 10000.0 AS mrr
      |FROM cells c
      |LEFT JOIN perq p ON p.system = c.system AND p.query_id = c.query_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ───────────────────────── SQ8 scalar quantization ─────────────────────────

  /** The shipped SQ8 rerank depth, SINGLE-SOURCED: the conf reader below
    * and the registered oracle strings both derive from this constant, so
    * the oracles pin the DEFAULT (overriding the knob trades oracle
    * hash-equality for a different recall/cost point) and the two sides
    * cannot drift. */
  private[graft] val Sq8RerankDepthDefault = 50

  /** The depth-∞ sentinel for the SQ8 serving family — the ONE constant
    * shared by x38's registered oracle (`s22SqlAt(Sq8DepthUnbounded, …)`)
    * and its spec batch twin (`ivfSq8Served(…, Sq8DepthUnbounded)`), so
    * the "shortlist depth at corpus scale" posture can never silently
    * diverge between the two sides. Int.MaxValue is
    * exact in both engines (`q_rank <= 2147483647` over a BIGINT
    * row_number); the stated corpus-size assumption is that no single
    * query's probed cells ever hold ≥ 2^31 candidates — at p·N/k per
    * query that needs a ~10^10-vector cell, orders past any deployment. */
  private[graft] val Sq8DepthUnbounded: Int = Int.MaxValue

  /** Exact-cosine re-rank depth for the SQ8 serving legs (s20/s22).
    * Default [[Sq8RerankDepthDefault]], decided by [[s21_sq8_recall]]'s
    * depth audit (the same measured-knee discipline as
    * [[ServingRerankDepth]]): the audit's d10/d50/d200 rows grade the axis,
    * and d = 50 is where SQ8 reaches its measured convergence on this
    * corpus. The audit's own legs are pinned
    * LITERAL (s21 never reads this knob), so its system labels always
    * state the depth actually measured. */
  private[graft] def sq8RerankDepth(s: SparkSession): Int =
    s.conf.get("spark.graft.sq8RerankDepth", Sq8RerankDepthDefault.toString).toInt

  /** Symmetric per-dimension int8 scalar quantization of the corpus — the
    * SQ8 encoding (FAISS `ScalarQuantizer` QT_8bit-style; Jégou et al.'s
    * memory-bandwidth lever taken to its simplest form): per dimension d,
    * scale s_d = max|x_d| over the corpus; code q_d = round(127·x_d/s_d)
    * clamped to [-127, 127], stored as a tinyint array — 1 byte/dim, a 4×
    * cut of scan bytes vs float32 with NO codebook training and exact
    * integer scoring.
    *
    * Scale shape: the scales relation is D rows (bounded by the embedding
    * dimensionality — a broadcast contract by construction, same class as
    * s5's codebook fold at line 256); computing it is one corpus scan with
    * a map-side-combined 64-group max. Quantization itself is a stateless
    * per-row `zip_with` against the broadcast scales — no shuffle touches
    * the corpus.
    *
    * Cross-engine determinism: s_d is a float max (exact); the code is
    * `floor(v·127/s_d + 0.5)` over IEEE doubles — the identical op
    * sequence in DuckDB — and every downstream score is EXACT 64-bit
    * integer arithmetic, order-independent by construction (unlike the
    * float paths, no decimal fold is ever needed: the native codegen'd
    * `dot_i8` IS the oracle-exact path). */
  /** NOT a staged table, by measurement: staging the codes showed no win
    * at sf1 (same-window pairs: s20 4.4 s staged-warm vs 3.8 s
    * unstaged-cold; s22 3.5 vs 3.9 — inside the ambient noise both
    * ways). The reason is structural: SQ8's encode is ONE stateless codebook-free pass — a
    * trivial fraction of the |Q|·N scoring join — while a
    * `localCheckpoint`'d code table makes that join scan deserialized
    * row blocks instead of whole-stage codegen over columnar parquet.
    * The staging rule pays where the staged artifact is expensive to
    * rebuild (d3's signatures, s18's trained quantizer); it does not
    * transfer to a free-to-recompute encoding, so the simpler spelling
    * — the whole serve inside one codegen pipeline — wins. */
  /** The per-dimension SQ8 scales as a 1-row array relation — factored so
    * the online serve (x38) can fold the frozen scales into its per-row
    * quantize expression via the sanctioned `boundedCollect`. */
  private[graft] def sq8Scales(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("i", "vf")))
      .groupBy(col("i")).agg(max(abs(col("vf").cast("double"))).as("sc"))
      .groupBy().agg(array_sort(collect_list(struct(col("i"), col("sc")))).as("p"))
      .select(transform(col("p"), x => x.getField("sc")).as("scales"))

  /** The trained coarse centroids behind the serving router, exposed for
    * the online twin's frozen-artifact fold (k rows by construction). */
  private[graft] def sq8TrainedCentroids(s: SparkSession, dir: String): DataFrame =
    trainCoarse(s, dir)

  private[graft] def sq8Quantized(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val scales = sq8Scales(s, dir)
    emb.crossJoin(broadcast(scales))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("scales"), (x, sc) =>
          when(sc === lit(0.0), lit(0.0))
            .otherwise(greatest(lit(-127.0), least(lit(127.0),
              floor(x.cast("double") * lit(127.0) / sc + lit(0.5)))))
            .cast("tinyint")).as("qvec"))
  }

  /** The shared SQ8 scored relation: every (query, candidate) int8 dot
    * score with its per-query rank. Queries = the established
    * `vec_id % 100` bounded contract, broadcast; the corpus never
    * shuffles (the rank window partitions by q_id over scalar columns —
    * the s11 narrow-shuffle contract). */
  private def sq8Scored(s: SparkSession, dir: String): DataFrame = {
    val qv = sq8Quantized(s, dir)
    val qq = qv.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("qvec").as("qq"))
    qv.join(broadcast(qq), col("vec_id") =!= col("q_id"))
      .withColumn("iscore", graft.functions.dot_i8(col("qvec"), col("qq")))
      .withColumn("q_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("vec_id"))).cast("long"))
      .select(col("q_id"), col("vec_id"), col("iscore"), col("q_rank"))
  }

  /** S20: SQ8-SERVED top-k — int8 shortlist + exact re-rank, the
    * scalar-quantization sibling of the PQ serving stack (s13/s16-ivf):
    * score the whole corpus with the 1-byte-per-dim codes (4× fewer scan
    * bytes than float32, exact integer arithmetic in one fused codegen'd
    * loop — `dot_i8`), keep the top-[[sq8RerankDepth]] shortlist per
    * query, and re-rank only those raw vectors with the exact cosine.
    * Where PQ buys ~16-32× compression at the cost of trained codebooks
    * and lossy ADC ordering (s10's depth rows), SQ8 buys 4× with
    * NO training and a far tighter ordering — the standard first rung of
    * the ANN memory-bandwidth ladder.
    *
    * Scale shape: one corpus scan over tinyint codes (integer SIMD-class
    * work, whole-stage codegen — no decimal fold on ANY path), shortlist
    * is |Q|·depth scalar rows, re-rank joins are the bounded-side
    * broadcasts s13 already declared. At 100 TB the raw-vector fetch
    * touches depth·|Q| rows instead of the corpus. */
  def s20_sq8_topk(s: SparkSession, dir: String): DataFrame = {
    val depth = sq8RerankDepth(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"), col("n2").as("qn2"))
    sq8Scored(s, dir).filter(col("q_rank") <= depth)
      .join(emb, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine",
        round4(dot(col("embedding"), col("qemb")) / sqrt(col("qn2") * col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("iscore"), col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** SQ8 quantization + integer-score CTE chain over the `e` elements CTE:
    * per-dim max-abs scales, int8 codes, exact integer dot scores with
    * per-query ranks — the DuckDB twin of [[sq8Scored]]. */
  private def sq8SqlCtes: String =
    s"""sca AS (
      |  SELECT i, max(abs(v)) AS sc FROM e GROUP BY 1
      |), qv8 AS (
      |  SELECT e.vec_id, e.label, e.i,
      |    (CASE WHEN sc = 0 THEN 0
      |          ELSE greatest(-127.0, least(127.0, floor(v * 127.0 / sc + 0.5)))
      |     END)::BIGINT AS q
      |  FROM e JOIN sca USING (i)
      |), isc AS (
      |  SELECT qq.vec_id AS q_id, dd.vec_id AS vec_id,
      |         sum(qq.q * dd.q)::BIGINT AS iscore
      |  FROM qv8 qq JOIN qv8 dd ON qq.i = dd.i AND dd.vec_id <> qq.vec_id
      |  WHERE qq.vec_id % 100 = 0
      |  GROUP BY 1, 2
      |), srk AS (
      |  SELECT q_id, vec_id, iscore,
      |    row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS q_rank
      |  FROM isc
      |)""".stripMargin

  /** s20 oracle at an explicit re-rank depth (the conf default below —
    * template-parameterized, like `ivfpqAdcCtesAt`). */
  def s20SqlAt(depth: Int): String =
    s"""WITH $elemsSqlCte, $sq8SqlCtes, norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), rr AS (
      |  SELECT sh.q_id, sh.vec_id, sh.iscore,
      |         sum((eq.v * ed.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM srk sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.vec_id AND ed.i = eq.i
      |  WHERE sh.q_rank <= $depth
      |  GROUP BY 1, 2, 3
      |), scored AS (
      |  SELECT q_id, rr.vec_id AS n_id, iscore,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM rr
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = rr.vec_id
      |), ranked AS (
      |  SELECT q_id, n_id, iscore, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, iscore, cosine, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  def s20Sql: String = s20SqlAt(Sq8RerankDepthDefault)

  /** S21: the SQ8 DEPTH AUDIT — recall@5 / MRR@5 of four SQ8 serving
    * postures against the exact brute-force ground truth, from ONE scored
    * relation (the s10/s19 audit-contains-its-subjects shape): the raw
    * int8 ordering served directly (`sq8_direct`) and the exact re-rank
    * at depths 10 / 50 / 200. This is the deploy-gate measurement behind
    * [[sq8RerankDepth]] — shortlist depth is the high-leverage axis for
    * the PQ index (s10's depth rows); this audit asks the same
    * question of SQ8 and prints where the depth curve flattens (SQ8's
    * int8 ordering is far closer to exact than PQ's ADC, so it converges
    * at a much shallower depth — the measured reason the s20 default can
    * be 50 where the PQ stack needed 200). Systems five through seven are
    * the LABEL-routed ivf leg at literal probe widths 1/2/4 (all depth
    * 50, one multi-probe scored relation): the p1 row is the single-cell
    * posture (0.12 recall@5 vs the global 1.00) and the p2/p4 rows the
    * width recovery — the measurement that led to
    * [[s24_router_audit]], which then retired this router from serving
    * (s24 is s22's standing deploy gate).
    *
    * Same scale contract as s19: the eval rides the bounded query
    * contract, every comparison join is |Q|·k rows, and the one extra
    * cost over s20 is the exact ground-truth pass the audit exists to
    * compare against. */
  /** The shared SQ8-eval ground truth: the exact all-pairs cosine relation
    * (checkpointed — it is both the ground truth AND every leg's re-rank
    * scorer), the exact top-5 per query, and the exact top-1. Factored so
    * the depth audit (s21) and the joint probe×depth grid (s23) grade
    * against the IDENTICAL ground-truth pass. */
  private def sq8EvalGround(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val qn = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"), col("n2").as("qn2"))
    val cosines = emb.join(broadcast(qn), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        round4(dot(col("embedding"), col("qemb")) / sqrt(col("qn2") * col("n2"))))
      .select(col("q_id"), col("vec_id"), col("cosine"))
      .localCheckpoint()
    val exact = cosines.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
    val truth5 = exact.select(col("q_id"), col("vec_id"))
    val top1 = exact.filter(col("rank") === 1)
      .select(col("q_id"), col("vec_id").as("top1"))
    (cosines, truth5, top1)
  }

  /** Grade a union of top-5 legs — rows (q_id, vec_id, rk) plus the `keys`
    * columns naming the leg — against the exact ground truth: recall@5 and
    * MRR per key combination. Shared by s21 (key = system label) and s23
    * (keys = probes × depth). */
  private def recallReport(legs: DataFrame, keys: Seq[String],
                           truth5: DataFrame, top1: DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    val perq = legs
      .join(truth5.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
      // no broadcast hint: top1 is |Q| rows but its bound sits behind the
      // checkpoint, invisible to BroadcastContract — AQE sizes it instead
      .join(top1, Seq("q_id"))
      .groupBy((keyCols :+ col("q_id")): _*)
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits5"),
           max(when(col("vec_id") === col("top1"),
             floor(lit(1000000.0) / col("rk") + 0.5).cast("long"))).as("rr_micro"))
    // Denominator = the FULL query set for every leg: a
    // leg whose probed cells yield ZERO candidates for some query must
    // count as zero hits there, not drop out of n_queries — otherwise
    // narrow-probe legs inflate recall on singleton cells and n_queries
    // drifts across rows. The grid is (leg inventory — bounded, a distinct
    // over the key labels) × (query set) left-joined over the per-query
    // hits, so every leg is graded on identical queries by construction.
    val legKeys = legs.select(keyCols: _*).distinct()
    broadcast(legKeys).crossJoin(top1.select(col("q_id")))
      .join(perq, keys :+ "q_id", "left")
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n_queries"),
           sum(coalesce(col("hits5"), lit(0L))).as("hits_total"),
           sum(coalesce(col("rr_micro"), lit(0L))).as("rr_micro_total"))
      .select((keyCols ++ Seq(col("n_queries"), col("hits_total"),
              round4(col("hits_total").cast("double") / (col("n_queries") * lit(5.0)))
                .as("recall_at_5"),
              round4(col("rr_micro_total").cast("double") / col("n_queries") / lit(1000000.0))
                .as("mrr"))): _*)
      .orderBy(keyCols: _*)
  }

  def s21_sq8_recall(s: SparkSession, dir: String): DataFrame = {
    val (cosines, truth5, top1) = sq8EvalGround(s, dir)
    val scored = sq8Scored(s, dir)
      .select(col("q_id"), col("vec_id"), col("q_rank")).localCheckpoint()
    def rerank(depth: Int): DataFrame = scored.filter(col("q_rank") <= depth)
      .join(cosines, Seq("q_id", "vec_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5).select(col("q_id"), col("vec_id"), col("rk"))
    // the IVF-routed legs at LITERAL probe widths 1/2/4 and depth 50, all
    // from ONE multi-probe scored relation (probe <= p filters, the s10
    // audit shape): p1 is the single-cell posture, p2 is the shipped
    // [[ServingNprobe]] width, p4 the next rung — the rows print the
    // routing recovery curve. Literal parameters keep the system labels
    // honest under any conf (a leg that read the depth knob could serve
    // another depth than its d50 label says).
    val mp = ivfSq8ScoredMp(s, dir, 4)
      .select(col("q_id"), col("probe"), col("vec_id"), col("iscore"))
      .localCheckpoint()
    def ivfLeg(p: Int): DataFrame = mp.filter(col("probe") <= p)
      .withColumn("q_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("vec_id"))).cast("long"))
      .filter(col("q_rank") <= 50)
      .join(cosines, Seq("q_id", "vec_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5).select(col("q_id"), col("vec_id"), col("rk"))
    val systems = (
      Seq("sq8_direct" -> scored.filter(col("q_rank") <= 5)
            .select(col("q_id"), col("vec_id"), col("q_rank").as("rk")),
          "sq8_rerank_d10" -> rerank(10),
          "sq8_rerank_d50" -> rerank(50),
          "sq8_rerank_d200" -> rerank(200),
          "ivf_sq8_p1_d50" -> ivfLeg(1),
          "ivf_sq8_p2_d50" -> ivfLeg(2),
          "ivf_sq8_p4_d50" -> ivfLeg(4)))
      .map { case (name, df) => df.withColumn("system", lit(name)) }
      .reduce(_ unionByName _)
    recallReport(systems, Seq("system"), truth5, top1)
  }

  /** S23: the JOINT probe × depth GRID for the IVF×SQ8 leg — the two
    * serving axes have each been priced alone (probe width by the
    * [[ServingNprobe]] study and s21's p-rows; rerank depth by s21's d-rows)
    * but never TOGETHER for this backend, and the shipped default
    * (p = 2, d = 50) is only justified if no cheaper grid cell matches it.
    * Nine cells (p ∈ {1,2,4} × d ∈ {10,50,200}) graded from ONE multi-probe
    * scored relation and ONE exact ground-truth pass (the s10
    * audit-contains-its-subjects shape twice over): the (p, 50) column
    * reproduces s21's ivf rows by construction, and reading along each row
    * shows where depth stops buying recall at that routing ceiling.
    *
    * MEASURED (sf0.01 and sf0.1, identical shape): depth has ZERO effect
    * on the routed leg — every (p, d) row equals (p, 10); recall@5 is
    * 0.12 / 0.23 / 0.42 at p = 1/2/4 (sf0.1) regardless of d. SQ8's int8
    * ordering is tight enough that the probed cells' true top-5 already
    * sit inside the top-10 integer shortlist; ALL the recall loss is the
    * label-cell router, and probe width is the only axis that moves it
    * (~2× per doubling). So the grid's argmin at every iso-recall point
    * is (p, d = 10) — the shared `sq8RerankDepth` default stays 50 only
    * because the GLOBAL leg (s20) needs it (s21: d10 = 0.94 < 1.00 at
    * sf0.1), and the grid proves the routed leg pays nothing for riding
    * the same knob (re-rank cost is |Q|·d rows, corpus-independent). All
    * parameters LITERAL — the audit never reads the serving knobs it
    * exists to justify.
    *
    * Scale contract: same as s21 — the one corpus-scale cost is the exact
    * ground-truth pass the audit exists to compare against; every graded
    * leg is a probe<=p / q_rank<=d filter over the shared |probed cells|
    * scored relation, and every comparison join is |Q|·k rows. */
  def s23_sq8_grid(s: SparkSession, dir: String): DataFrame = {
    val (cosines, truth5, top1) = sq8EvalGround(s, dir)
    val mp = ivfSq8ScoredMp(s, dir, 4)
      .select(col("q_id"), col("probe"), col("vec_id"), col("iscore"))
      .localCheckpoint()
    def cell(p: Int, d: Int): DataFrame = mp.filter(col("probe") <= p)
      .withColumn("q_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("vec_id"))).cast("long"))
      .filter(col("q_rank") <= d)
      .join(cosines, Seq("q_id", "vec_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), col("rk"),
              lit(p).as("probes"), lit(d).as("depth"))
    val grid = (for { p <- Seq(1, 2, 4); d <- Seq(10, 50, 200) }
      yield cell(p, d)).reduce(_ unionByName _)
    recallReport(grid, Seq("probes", "depth"), truth5, top1)
  }

  /** One literal-width IVF×SQ8 system leg of the s21 oracle: shortlist
    * the per-query top-50 integer scores among cells with probe <= p,
    * exact-cosine re-rank, keep top-5 — the SQL twin of s21's
    * `ivfLeg(p)`. */
  private def s21IvfLegSql(p: Int): String =
    s"""SELECT * FROM (
       |    SELECT 'ivf_sq8_p${p}_d50' AS system, s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
       |    FROM (SELECT q_id, vec_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS q_rank
       |          FROM isc22 WHERE probe <= $p) s
       |    JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
       |    WHERE s.q_rank <= 50) WHERE rk <= 5""".stripMargin

  /** The shared audit CTE chain behind the s21 and s23 oracles: exact
    * norms → all-pairs cosines → ground truth (truth5/top1), plus the
    * label-centroid multi-probe routing and per-probe int8 scores at
    * probe <= 4 (`isc22`) — the SQL twin of [[sq8EvalGround]] +
    * [[ivfSq8ScoredMp]](4). */
  private def sq8AuditCtes: String =
    s"""norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), dots AS (
      |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
      |         sum((q.v * d.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM e q JOIN e d ON q.i = d.i AND d.vec_id <> q.vec_id
      |  WHERE q.vec_id % 100 = 0
      |  GROUP BY 1, 2
      |), cosines AS (
      |  SELECT q_id, dots.vec_id AS vec_id,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM dots
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = dots.vec_id
      |), exrk AS (
      |  SELECT q_id, vec_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM cosines
      |), truth5 AS (
      |  SELECT q_id, vec_id FROM exrk WHERE rank <= 5
      |), top1 AS (
      |  SELECT q_id, vec_id AS top1 FROM exrk WHERE rank = 1
      |), cent AS (
      |  SELECT label, i, sum(v::DECIMAL(38,30))::VARCHAR::DOUBLE / count(*) AS cv
      |  FROM e GROUP BY 1, 2
      |), qe AS (
      |  SELECT vec_id AS q_id, i, v AS qv FROM e WHERE vec_id % 100 = 0
      |), q2c AS (
      |  SELECT q_id, label, sum((qv * cv)::DECIMAL(30,20))::VARCHAR::DOUBLE AS cdp
      |  FROM qe JOIN cent USING (i) GROUP BY 1, 2
      |), qroute22 AS (
      |  SELECT q_id, label, probe FROM (
      |    SELECT q_id, label,
      |      row_number() OVER (PARTITION BY q_id ORDER BY cdp DESC, label) AS probe
      |    FROM q2c) WHERE probe <= 4
      |), isc22 AS (
      |  SELECT qq.vec_id AS q_id, r.probe, dd.vec_id AS vec_id,
      |         sum(qq.q * dd.q)::BIGINT AS iscore
      |  FROM qv8 qq
      |  JOIN qroute22 r ON r.q_id = qq.vec_id
      |  JOIN qv8 dd ON dd.i = qq.i AND dd.label = r.label
      |              AND dd.vec_id <> qq.vec_id
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  def s21Sql: String =
    s"""WITH $elemsSqlCte, $sq8SqlCtes, $sq8AuditCtes, sys AS (
      |  SELECT 'sq8_direct' AS system, q_id, vec_id, q_rank AS rk
      |  FROM srk WHERE q_rank <= 5
      |  UNION ALL
      |  ${Seq(1, 2, 4).map(s21IvfLegSql).mkString("\n  UNION ALL\n  ")}
      |  UNION ALL
      |  SELECT * FROM (
      |    SELECT 'sq8_rerank_d10' AS system, s.q_id, s.vec_id,
      |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
      |    FROM srk s JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
      |    WHERE s.q_rank <= 10) WHERE rk <= 5
      |  UNION ALL
      |  SELECT * FROM (
      |    SELECT 'sq8_rerank_d50' AS system, s.q_id, s.vec_id,
      |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
      |    FROM srk s JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
      |    WHERE s.q_rank <= 50) WHERE rk <= 5
      |  UNION ALL
      |  SELECT * FROM (
      |    SELECT 'sq8_rerank_d200' AS system, s.q_id, s.vec_id,
      |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
      |    FROM srk s JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
      |    WHERE s.q_rank <= 200) WHERE rk <= 5
      |), perq AS (
      |  SELECT sy.system, sy.q_id,
      |    sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits5,
      |    max(CASE WHEN sy.vec_id = o.top1
      |        THEN floor(1000000.0 / sy.rk + 0.5)::BIGINT END) AS rr_micro
      |  FROM sys sy
      |  LEFT JOIN truth5 t ON t.q_id = sy.q_id AND t.vec_id = sy.vec_id
      |  JOIN top1 o ON o.q_id = sy.q_id
      |  GROUP BY 1, 2
      |), legk AS (SELECT DISTINCT system FROM sys
      |), perqf AS (
      |  SELECT g.system, coalesce(p.hits5, 0)::BIGINT AS hits5, p.rr_micro
      |  FROM (SELECT l.system, t.q_id FROM legk l, top1 t) g
      |  LEFT JOIN perq p ON p.system = g.system AND p.q_id = g.q_id)
      |SELECT system, count(*)::BIGINT AS n_queries,
      |  sum(hits5)::BIGINT AS hits_total,
      |  floor(sum(hits5)::DOUBLE / (count(*) * 5.0) * 10000.0 + 0.5) / 10000.0
      |    AS recall_at_5,
      |  floor(sum(coalesce(rr_micro, 0))::DOUBLE / count(*) / 1000000.0 * 10000.0 + 0.5)
      |    / 10000.0 AS mrr
      |FROM perqf GROUP BY 1 ORDER BY 1""".stripMargin

  /** S24: the ROUTER AUDIT — the s23 grid proved ALL of the IVF×SQ8 leg's
    * recall loss is the router, which raises the obvious next question:
    * is that a property of IVF routing, or of the LABEL-centroid cells
    * s3/s22 inherited? This audit swaps routers under the identical int8
    * backend and grades both at probe widths 1/2/4 (depth literal 50,
    * where the grid showed depth is free): cells from the corpus LABELS
    * (the router s22 first served) vs cells from the TRAINED coarse
    * quantizer (s4/s7's k-means, k = 10, squared-euclidean assignment —
    * the router the PQ stack already serves with). Same ground truth,
    * same scored shape, one report — the measured delta is the price of
    * skipping coarse training at ingest.
    *
    * MEASURED (and acted on): trained ≈ 2× label recall at EVERY width —
    * sf0.1 recall@5 0.27/0.43/0.68 vs 0.12/0.23/0.42 at p = 1/2/4 (and
    * the trained curve reproduces the PQ stack's measured routing
    * ceilings 0.285/0.47/0.69, as it must: same router, near-exact
    * backend). Trained p2 matches label p4 at HALF the scanned codes.
    * One honest caveat a smaller corpus surfaces: at sf0.01 p4 the two
    * routers tie on recall (0.72) with label ahead on MRR (1.0 vs 0.8) —
    * wide probing eventually washes the router out. On the strength of
    * the p = 2 serving-default rows, [[s22_ivf_sq8]] now serves on the
    * trained router; this audit is its standing deploy gate.
    *
    * Scale shape: both routers are k-row broadcasts; both corpus
    * assignments are per-row argmins over the broadcast centroids (the
    * corpus never shuffles for routing); the graded legs are the shared
    * |probed cells| scored relation filtered per width, exactly s23's
    * contract. The one new cost over s23 is the trained assignment pass —
    * the same pass every PQ query already stages. */
  def s24_router_audit(s: SparkSession, dir: String): DataFrame = {
    val (cosines, truth5, top1) = sq8EvalGround(s, dir)
    // router A: label-centroid cells
    val labelMp = ivfSq8ScoredMp(s, dir, 4)
      .select(col("q_id"), col("probe"), col("vec_id"), col("iscore"))
      .localCheckpoint()
    // router B: the trained coarse quantizer — corpus assigned to its
    // nearest trained centroid, queries ranked over the same centroids by
    // the same squared-euclidean metric (s7's routing, multi-probe; the
    // SERVING router since this audit's measurement landed)
    val trainedMp = ivfSq8ScoredMpTrained(s, dir, 4)
      .select(col("q_id"), col("probe"), col("vec_id"), col("iscore"))
      .localCheckpoint()
    def leg(mp: DataFrame, router: String, p: Int): DataFrame = mp
      .filter(col("probe") <= p)
      .withColumn("q_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("vec_id"))).cast("long"))
      .filter(col("q_rank") <= 50)
      .join(cosines, Seq("q_id", "vec_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), col("rk"),
              lit(router).as("router"), lit(p).as("probes"))
    val legs = (for (p <- Seq(1, 2, 4)) yield leg(labelMp, "label", p)) ++
               (for (p <- Seq(1, 2, 4)) yield leg(trainedMp, "trained", p))
    recallReport(legs.reduce(_ unionByName _), Seq("router", "probes"),
                 truth5, top1)
  }

  /** S25: the CELL-COUNT SWEEP — the last unpriced axis of the IVF×SQ8
    * serve, at PRODUCTION TRAINING DISCIPLINE. Width (s21), depth
    * (s23), and router (s24) are each measured; the cell COUNT k is the
    * axis that changes with corpus scale (a 100 TB deployment runs
    * k ≈ √N cells, not 10). Sweep points: literal k ∈ {5, 10, 20} PLUS
    * the k = ⌊√N⌋ point itself (N = corpus vector count, derived
    * identically in both engines as floor of the IEEE-double sqrt, so
    * the row follows the regime the claim lives in at every SF — 22 at
    * sf0.01, 44 at sf0.1, 141 on the 20k-vector sf1 slice). Every
    * quantizer trains on the bounded deterministic sample (`vec_id < m`,
    * m = `spark.graft.semdedupSample`, default 1024 — c2-ann's faiss
    * `train()` contract), so per-point training cost is O(m·k),
    * independent of the corpus; the sample contains every seed because
    * seeds are `vec_id < k` and k ≤ m in any regime this sweep prices
    * (when a corpus ever pushed ⌊√N⌋ past m, both engines degenerate
    * identically to k = m cells — the sample caps the cell count, which
    * is itself the faiss posture: you grow the training sample with k).
    * Each row carries BOTH sides of the trade: recall@5 against the
    * exact ground truth AND `total_scanned` — the exact number of int8
    * candidate scores the probed cells cost across the query set (the
    * p·N/k scan term measured, not asserted). The recall-per-scanned-
    * byte frontier is the capacity-planning curve an index deploy sizes
    * k from.
    *
    * Sampled vs full training (at sf0.1 the 1024-vector sample truncates
    * the 2000-vector corpus): the sampled rows price the same frontier
    * the full-corpus training did
    * — the delta is the production trade stated with numbers, either
    * direction an acceptable answer.
    *
    * Scale contract: training is O(m·k) per point (corpus-independent);
    * the per-point ASSIGNMENT pass is the one O(N·k) term left — the
    * honest audit cost (c2-ann's two-level routed assignment is the
    * production path that drops it to ~N·√k, priced separately by
    * c2_assign_audit); everything downstream is the s23/s24 audit shape
    * — k-row broadcasts, cell equi-joins, |Q|·d re-ranks. The ⌊√N⌋ leg
    * is guarded against colliding with a literal point (k ∈ {5,10,20}
    * skips it in BOTH engines, else the report would double-count one
    * cells key). */
  def s25_cell_sweep(s: SparkSession, dir: String): DataFrame =
    s25SweepReport(s, dir) { (emb, cent, _) =>
      assignToNearest(emb, cent).select(col("vec_id"), col("cluster"))
    }

  /** The ONE s25 sweep body, shared by [[s25_cell_sweep]] and
    * [[s25_routed_sweep]] — the twins differ ONLY in the corpus
    * `assign` step (exact O(N·k) argmin vs c2-ann's two-level route), so
    * a future change to the scan/re-rank chain lands in both or neither
    * (two verbatim copies of one body drift apart; the twins stay separate
    * QUERIES so each oracle stays byte-stable).
    * `assign(emb, centroids, k)` must return (vec_id, cluster). */
  private def s25SweepReport(s: SparkSession, dir: String)(
      assign: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val (cosines, truth5, top1) = sq8EvalGround(s, dir)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val m = semdedupSample(s)
    val trainEmb = emb.filter(col("vec_id") < m)
    val nCorpus = graft.plans.BroadcastContract.boundedCollect(
      emb.agg(count(lit(1)).as("n")),
      "s25 corpus count: one-row global aggregate")(0).getLong(0)
    // floor(IEEE sqrt) on BOTH engines — not isqrt — so the grid point
    // cannot disagree at perfect-square boundaries
    val kRoot = math.floor(math.sqrt(nCorpus.toDouble)).toInt
    val qv = sq8Quantized(s, dir)
    val qq = qv.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("qvec").as("qq"))
    def sweepPoint(k: Int): (DataFrame, DataFrame) = {
      val cent = trainCoarseOn(trainEmb, k) // sampled training: O(m·k)
      val asg = assign(emb, cent, k)
      val route = routeNearest(emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("qemb")),
        col("qemb"), cent, 2, sqDist) // the serving width, literal
        .select(col("q_id"), col("cluster"))
      val scored = qv.join(asg, Seq("vec_id"))
        .join(broadcast(route), Seq("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(qq), Seq("q_id"))
        .withColumn("iscore", graft.functions.dot_i8(col("qvec"), col("qq")))
        .select(col("q_id"), col("vec_id"), col("iscore"))
        .localCheckpoint()
      val leg = scored
        .withColumn("q_rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("vec_id"))).cast("long"))
        .filter(col("q_rank") <= 50)
        .join(cosines, Seq("q_id", "vec_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("rk"), lit(k).as("cells"))
      val scanned = scored.groupBy()
        .agg(count(lit(1)).as("total_scanned"))
        .select(lit(k).as("cells"), col("total_scanned"))
      (leg, scanned)
    }
    val ks = if (Seq(5, 10, 20).contains(kRoot)) Seq(5, 10, 20)
             else Seq(5, 10, 20, kRoot)
    // the sweep points are INDEPENDENT jobs (each trains, assigns, routes
    // and scores its own k): run them concurrently so one point's
    // straggler tasks back-fill with the next point's work. Results are
    // unioned in the deterministic ks order and every per-point relation
    // is keyed by its own `cells` literal, so the output is identical to
    // the sequential form.
    val points = parAll(s)(ks.map(k => () => sweepPoint(k)): _*)
    val report = recallReport(points.map(_._1).reduce(_ unionByName _),
                              Seq("cells"), truth5, top1)
    val scans = points.map(_._2).reduce(_ unionByName _)
    report.join(scans, Seq("cells"))
      .select(col("cells"), col("n_queries"), col("total_scanned"),
              col("hits_total"), col("recall_at_5"), col("mrr"))
      .orderBy("cells")
  }

  /** S25-ROUTED: the cell sweep ON THE PRODUCTION ASSIGNMENT PATH —
    * [[s25_cell_sweep]]'s
    * per-point corpus assignment is the exhaustive O(N·k) exact-decimal
    * pass (the declared audit cost, ~200 s of the sf1 cold sweep at
    * k = 141); this twin runs the IDENTICAL sweep — same sampled
    * training, same points {5, 10, 20, ⌊√N⌋}, same p = 2 exact query
    * routing, same int8 scan and re-rank — with the one O(N·k) term
    * replaced by c2-ann's two-level routed assignment ([[annAssign]],
    * g = max(2, ⌊√k⌋) pilots, 1 probe — c2_prune_audit's measured
    * posture): per-vector work k → g + k/g ≈ 2√k, the cost curve a
    * 100 TB index build actually pays. A SEPARATE suffixed query so
    * s25's oracle legs stay byte-stable (the verdict's instruction);
    * diffing this report against s25's same-cells rows IS the
    * exact-vs-routed assignment recall delta — the last
    * asserted-not-measured number in the ANN family, now a query.
    * Query-side routing stays exact (|Q|·k, not corpus-scaled — the
    * audit isolates the ASSIGNMENT approximation). Oracle mirrors the
    * two-level route per point (c2-ann's chain, parameterized), so the
    * routed assignment is hash-checked, not trusted. */
  def s25_routed_sweep(s: SparkSession, dir: String): DataFrame =
    s25SweepReport(s, dir) { (emb, cent, k) =>
      // the one difference vs s25: ~N·2√k routed assignment, not N·k
      val g = math.max(2, math.floor(math.sqrt(k.toDouble)).toInt)
      annAssign(emb, cent, g, 1)
        .select(col("vec_id"), col("cell").as("cluster"))
    }

  /** One k-point CTE chain of the s25-routed oracle: the s25 sampled
    * training verbatim, then c2-ann's two-level route (g pilots, 1
    * probe) in place of the exhaustive assignment; exact p = 2 query
    * routing and the scored relation unchanged. `gExpr` is the pilot
    * count as a SQL expression. */
  private def s25RoutedPointCtes(tag: String, kExpr: String,
                                 gExpr: String): String =
    s"""c0_$tag AS (
      |  SELECT vec_id AS cluster, i, v AS cv FROM es25 WHERE vec_id < $kExpr
      |), c1_$tag AS (
      |${assignAndMeanSql(s"c0_$tag", "es25")}
      |), c2_$tag AS (
      |${assignAndMeanSql(s"c1_$tag", "es25")}
      |), pil_$tag AS (
      |  SELECT cluster AS pcell, i, cv AS pv FROM c2_$tag WHERE cluster < $gExpr
      |), cidx_$tag AS (
      |  SELECT pcell, cluster FROM (
      |    SELECT c.cluster, p.pcell,
      |      row_number() OVER (PARTITION BY c.cluster
      |        ORDER BY sum(((c.cv - p.pv) * (c.cv - p.pv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 p.pcell) AS rn
      |    FROM c2_$tag c JOIN pil_$tag p USING (i)
      |    GROUP BY c.cluster, p.pcell)
      |  WHERE rn = 1
      |), v2p_$tag AS (
      |  SELECT vec_id, pcell FROM (
      |    SELECT e.vec_id, p.pcell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - p.pv) * (e.v - p.pv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 p.pcell) AS rn
      |    FROM e JOIN pil_$tag p USING (i)
      |    GROUP BY e.vec_id, p.pcell)
      |  WHERE rn = 1
      |), asg_$tag AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e
      |    JOIN v2p_$tag v ON v.vec_id = e.vec_id
      |    JOIN cidx_$tag x ON x.pcell = v.pcell
      |    JOIN c2_$tag c ON c.cluster = x.cluster AND c.i = e.i
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), route_$tag AS (
      |  SELECT vec_id AS q_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS probe
      |    FROM e JOIN c2_$tag c USING (i)
      |    WHERE e.vec_id % 100 = 0
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE probe <= 2
      |), isc_$tag AS (
      |  SELECT qq.vec_id AS q_id, dd.vec_id AS vec_id,
      |         sum(qq.q * dd.q)::BIGINT AS iscore
      |  FROM qv8 qq
      |  JOIN route_$tag r ON r.q_id = qq.vec_id
      |  JOIN asg_$tag a ON a.cluster = r.cluster
      |  JOIN qv8 dd ON dd.vec_id = a.vec_id AND dd.i = qq.i
      |              AND dd.vec_id <> qq.vec_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  def s25RoutedSql: String = {
    val ks = Seq(5, 10, 20)
    val kn = "(SELECT k FROM kn)"
    val gn = "(SELECT greatest(2, floor(sqrt(k)))::INTEGER FROM kn)"
    def gOf(k: Int) = math.max(2, math.floor(math.sqrt(k.toDouble)).toInt)
    val pointCtes = ks.map(k =>
        s25RoutedPointCtes(s"r$k", k.toString, gOf(k).toString)) :+
      s25RoutedPointCtes("rrootn", kn, gn)
    val legs = ks.map(k => s25LegSql(s"r$k", k.toString)) :+
      s25LegSql("rrootn", kn, guarded = true)
    val scans = ks.map(k =>
      s"SELECT $k AS cells, count(*)::BIGINT AS total_scanned FROM isc_r$k") :+
      s"""SELECT * FROM (SELECT $kn AS cells, count(*)::BIGINT AS total_scanned
         |    FROM isc_rrootn) WHERE cells NOT IN (5, 10, 20)""".stripMargin
    s"""WITH $elemsSqlCte, $sq8SqlCtes, $sq8AuditCtes, es25 AS (
      |  SELECT * FROM e WHERE vec_id < $SemdedupSampleDefault
      |), kn AS (
      |  SELECT floor(sqrt(count(*)))::INTEGER AS k FROM embeddings
      |),
      |${pointCtes.mkString(",\n")},
      |sys AS (
      |  ${legs.mkString("\n  UNION ALL\n  ")}
      |), perq AS (
      |  SELECT sy.cells, sy.q_id,
      |    sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits5,
      |    max(CASE WHEN sy.vec_id = o.top1
      |        THEN floor(1000000.0 / sy.rk + 0.5)::BIGINT END) AS rr_micro
      |  FROM sys sy
      |  LEFT JOIN truth5 t ON t.q_id = sy.q_id AND t.vec_id = sy.vec_id
      |  JOIN top1 o ON o.q_id = sy.q_id
      |  GROUP BY 1, 2
      |), legk AS (SELECT DISTINCT cells FROM sys
      |), perqf AS (
      |  SELECT g.cells, coalesce(p.hits5, 0)::BIGINT AS hits5, p.rr_micro
      |  FROM (SELECT l.cells, t.q_id FROM legk l, top1 t) g
      |  LEFT JOIN perq p ON p.cells = g.cells AND p.q_id = g.q_id
      |), rep AS (
      |  SELECT cells, count(*)::BIGINT AS n_queries,
      |    sum(hits5)::BIGINT AS hits_total,
      |    floor(sum(hits5)::DOUBLE / (count(*) * 5.0) * 10000.0 + 0.5) / 10000.0
      |      AS recall_at_5,
      |    floor(sum(coalesce(rr_micro, 0))::DOUBLE / count(*) / 1000000.0 * 10000.0 + 0.5)
      |      / 10000.0 AS mrr
      |  FROM perqf GROUP BY 1
      |), sc AS (
      |  ${scans.mkString("\n  UNION ALL\n  ")}
      |)
      |SELECT r.cells, r.n_queries, sc.total_scanned, r.hits_total,
      |       r.recall_at_5, r.mrr
      |FROM rep r JOIN sc USING (cells)
      |ORDER BY r.cells""".stripMargin
  }

  /** One router-audit leg of the s24 oracle: `src` = isc22 (label router)
    * or isc24 (trained router). */
  private def s24LegSql(src: String, router: String, p: Int): String =
    s"""SELECT * FROM (
       |    SELECT '$router' AS router, $p AS probes, s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
       |    FROM (SELECT q_id, vec_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS q_rank
       |          FROM $src WHERE probe <= $p) s
       |    JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
       |    WHERE s.q_rank <= 50) WHERE rk <= 5""".stripMargin

  /** The trained-router CTE chain appended for s24: the unrolled k-means
    * (c0→c1→c2, [[coarseTrainCtes]]), corpus assignment, multi-probe query
    * routing over the trained centroids, and the per-probe int8 scores. */
  private def s24TrainedCtes: String =
    s"""$coarseTrainCtes, asg24 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), qroute24 AS (
      |  SELECT vec_id AS q_id, probe, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS probe
      |    FROM e JOIN c2 c USING (i)
      |    WHERE e.vec_id % 100 = 0
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE probe <= 4
      |), isc24 AS (
      |  SELECT qq.vec_id AS q_id, r.probe, dd.vec_id AS vec_id,
      |         sum(qq.q * dd.q)::BIGINT AS iscore
      |  FROM qv8 qq
      |  JOIN qroute24 r ON r.q_id = qq.vec_id
      |  JOIN asg24 a ON a.cluster = r.cluster
      |  JOIN qv8 dd ON dd.vec_id = a.vec_id AND dd.i = qq.i
      |              AND dd.vec_id <> qq.vec_id
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  def s24Sql: String = {
    val legs =
      (for (p <- Seq(1, 2, 4)) yield s24LegSql("isc22", "label", p)) ++
      (for (p <- Seq(1, 2, 4)) yield s24LegSql("isc24", "trained", p))
    s"""WITH $elemsSqlCte, $sq8SqlCtes, $sq8AuditCtes, $s24TrainedCtes, sys AS (
      |  ${legs.mkString("\n  UNION ALL\n  ")}
      |), perq AS (
      |  SELECT sy.router, sy.probes, sy.q_id,
      |    sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits5,
      |    max(CASE WHEN sy.vec_id = o.top1
      |        THEN floor(1000000.0 / sy.rk + 0.5)::BIGINT END) AS rr_micro
      |  FROM sys sy
      |  LEFT JOIN truth5 t ON t.q_id = sy.q_id AND t.vec_id = sy.vec_id
      |  JOIN top1 o ON o.q_id = sy.q_id
      |  GROUP BY 1, 2, 3
      |), legk AS (SELECT DISTINCT router, probes FROM sys
      |), perqf AS (
      |  SELECT g.router, g.probes, coalesce(p.hits5, 0)::BIGINT AS hits5, p.rr_micro
      |  FROM (SELECT l.router, l.probes, t.q_id FROM legk l, top1 t) g
      |  LEFT JOIN perq p ON p.router = g.router AND p.probes = g.probes
      |                  AND p.q_id = g.q_id)
      |SELECT router, probes, count(*)::BIGINT AS n_queries,
      |  sum(hits5)::BIGINT AS hits_total,
      |  floor(sum(hits5)::DOUBLE / (count(*) * 5.0) * 10000.0 + 0.5) / 10000.0
      |    AS recall_at_5,
      |  floor(sum(coalesce(rr_micro, 0))::DOUBLE / count(*) / 1000000.0 * 10000.0 + 0.5)
      |    / 10000.0 AS mrr
      |FROM perqf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** One k-point CTE chain of the s25 oracle: k-seeded 2-iteration Lloyd
    * TRAINED ON THE BOUNDED SAMPLE `es25` (CTE names suffixed per point
    * tag so the trainings coexist in one WITH), full-corpus assignment,
    * p = 2 routing, and the scored candidate relation. `kExpr` is the
    * cell count as a SQL expression — a literal for the fixed points,
    * `(SELECT k FROM kn)` for the data-dependent ⌊√N⌋ point. */
  private def s25PointCtes(tag: String, kExpr: String): String =
    s"""c0_$tag AS (
      |  SELECT vec_id AS cluster, i, v AS cv FROM es25 WHERE vec_id < $kExpr
      |), c1_$tag AS (
      |${assignAndMeanSql(s"c0_$tag", "es25")}
      |), c2_$tag AS (
      |${assignAndMeanSql(s"c1_$tag", "es25")}
      |), asg_$tag AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2_$tag c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), route_$tag AS (
      |  SELECT vec_id AS q_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS probe
      |    FROM e JOIN c2_$tag c USING (i)
      |    WHERE e.vec_id % 100 = 0
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE probe <= 2
      |), isc_$tag AS (
      |  SELECT qq.vec_id AS q_id, dd.vec_id AS vec_id,
      |         sum(qq.q * dd.q)::BIGINT AS iscore
      |  FROM qv8 qq
      |  JOIN route_$tag r ON r.q_id = qq.vec_id
      |  JOIN asg_$tag a ON a.cluster = r.cluster
      |  JOIN qv8 dd ON dd.vec_id = a.vec_id AND dd.i = qq.i
      |              AND dd.vec_id <> qq.vec_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** One top-5 leg of the s25 oracle. `guarded` adds the ⌊√N⌋-collision
    * filter so a corpus whose √N lands on a literal point contributes the
    * leg exactly once in both engines. */
  private def s25LegSql(tag: String, cellsExpr: String,
                        guarded: Boolean = false): String = {
    val g = if (guarded) s" AND ($cellsExpr) NOT IN (5, 10, 20)" else ""
    s"""SELECT * FROM (
       |    SELECT $cellsExpr AS cells, s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
       |    FROM (SELECT q_id, vec_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS q_rank
       |          FROM isc_$tag) s
       |    JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
       |    WHERE s.q_rank <= 50) WHERE rk <= 5$g""".stripMargin
  }

  def s25Sql: String = {
    val ks = Seq(5, 10, 20)
    val kn = "(SELECT k FROM kn)"
    val pointCtes = ks.map(k => s25PointCtes(k.toString, k.toString)) :+
      s25PointCtes("rootn", kn)
    val legs = ks.map(k => s25LegSql(k.toString, k.toString)) :+
      s25LegSql("rootn", kn, guarded = true)
    val scans = ks.map(k =>
      s"SELECT $k AS cells, count(*)::BIGINT AS total_scanned FROM isc_$k") :+
      s"""SELECT * FROM (SELECT $kn AS cells, count(*)::BIGINT AS total_scanned
         |    FROM isc_rootn) WHERE cells NOT IN (5, 10, 20)""".stripMargin
    s"""WITH $elemsSqlCte, $sq8SqlCtes, $sq8AuditCtes, es25 AS (
      |  SELECT * FROM e WHERE vec_id < $SemdedupSampleDefault
      |), kn AS (
      |  SELECT floor(sqrt(count(*)))::INTEGER AS k FROM embeddings
      |),
      |${pointCtes.mkString(",\n")},
      |sys AS (
      |  ${legs.mkString("\n  UNION ALL\n  ")}
      |), perq AS (
      |  SELECT sy.cells, sy.q_id,
      |    sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits5,
      |    max(CASE WHEN sy.vec_id = o.top1
      |        THEN floor(1000000.0 / sy.rk + 0.5)::BIGINT END) AS rr_micro
      |  FROM sys sy
      |  LEFT JOIN truth5 t ON t.q_id = sy.q_id AND t.vec_id = sy.vec_id
      |  JOIN top1 o ON o.q_id = sy.q_id
      |  GROUP BY 1, 2
      |), legk AS (SELECT DISTINCT cells FROM sys
      |), perqf AS (
      |  SELECT g.cells, coalesce(p.hits5, 0)::BIGINT AS hits5, p.rr_micro
      |  FROM (SELECT l.cells, t.q_id FROM legk l, top1 t) g
      |  LEFT JOIN perq p ON p.cells = g.cells AND p.q_id = g.q_id
      |), rep AS (
      |  SELECT cells, count(*)::BIGINT AS n_queries,
      |    sum(hits5)::BIGINT AS hits_total,
      |    floor(sum(hits5)::DOUBLE / (count(*) * 5.0) * 10000.0 + 0.5) / 10000.0
      |      AS recall_at_5,
      |    floor(sum(coalesce(rr_micro, 0))::DOUBLE / count(*) / 1000000.0 * 10000.0 + 0.5)
      |      / 10000.0 AS mrr
      |  FROM perqf GROUP BY 1
      |), scn AS (
      |  ${scans.mkString("\n  UNION ALL\n  ")}
      |)
      |SELECT r.cells, r.n_queries, s.total_scanned, r.hits_total,
      |       r.recall_at_5, r.mrr
      |FROM rep r JOIN scn s ON s.cells = r.cells
      |ORDER BY r.cells""".stripMargin
  }

  /** One (p, d) grid-cell leg of the s23 oracle: the s21 ivf leg shape at
    * an arbitrary literal depth, keyed by integer (probes, depth) columns
    * instead of a label. */
  private def s23CellSql(p: Int, d: Int): String =
    s"""SELECT * FROM (
       |    SELECT $p AS probes, $d AS depth, s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id ORDER BY c.cosine DESC, s.vec_id) AS rk
       |    FROM (SELECT q_id, vec_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS q_rank
       |          FROM isc22 WHERE probe <= $p) s
       |    JOIN cosines c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
       |    WHERE s.q_rank <= $d) WHERE rk <= 5""".stripMargin

  def s23Sql: String =
    s"""WITH $elemsSqlCte, $sq8SqlCtes, $sq8AuditCtes, sys AS (
      |  ${(for { p <- Seq(1, 2, 4); d <- Seq(10, 50, 200) }
            yield s23CellSql(p, d)).mkString("\n  UNION ALL\n  ")}
      |), perq AS (
      |  SELECT sy.probes, sy.depth, sy.q_id,
      |    sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits5,
      |    max(CASE WHEN sy.vec_id = o.top1
      |        THEN floor(1000000.0 / sy.rk + 0.5)::BIGINT END) AS rr_micro
      |  FROM sys sy
      |  LEFT JOIN truth5 t ON t.q_id = sy.q_id AND t.vec_id = sy.vec_id
      |  JOIN top1 o ON o.q_id = sy.q_id
      |  GROUP BY 1, 2, 3
      |), legk AS (SELECT DISTINCT probes, depth FROM sys
      |), perqf AS (
      |  SELECT g.probes, g.depth, coalesce(p.hits5, 0)::BIGINT AS hits5, p.rr_micro
      |  FROM (SELECT l.probes, l.depth, t.q_id FROM legk l, top1 t) g
      |  LEFT JOIN perq p ON p.probes = g.probes AND p.depth = g.depth
      |                  AND p.q_id = g.q_id)
      |SELECT probes, depth, count(*)::BIGINT AS n_queries,
      |  sum(hits5)::BIGINT AS hits_total,
      |  floor(sum(hits5)::DOUBLE / (count(*) * 5.0) * 10000.0 + 0.5) / 10000.0
      |    AS recall_at_5,
      |  floor(sum(coalesce(rr_micro, 0))::DOUBLE / count(*) / 1000000.0 * 10000.0 + 0.5)
      |    / 10000.0 AS mrr
      |FROM perqf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** S22: IVF × SQ8 — the two scan levers COMPOSED, the actual 100 TB
    * serving shape: coarse routing cuts the candidate set to p/cells, and
    * the surviving cells are scanned in int8 (s20's codes, 1/4 the bytes)
    * instead of float32 or PQ-ADC — FAISS's `IVF..,SQ8` index family, the
    * THIRD scoring backend on an IVF route (s3 exact-decimal, s7 PQ-ADC,
    * s22 int8): the router and the cell scanner compose freely.
    *
    * Scale shape: routing is a k-row broadcast; the cell scan is the cell
    * equi-join (the corpus never shuffles) scored by the codegen'd
    * `dot_i8`; the exact re-rank touches ≤ depth·|Q| raw rows (s13/s20's
    * refine contract). Like s20, the int8 leg is oracle-exact.
    *
    * Serving posture — BOTH axes decided by measurement:
    * routing width = [[ServingNprobe]] (2, the width the PQ legs
    * priced; hardcoded single-cell routing read recall@5 0.12 vs 1.00 at
    * this leg's own gate), and the ROUTER is the
    * TRAINED coarse quantizer, not the label centroids it launched with:
    * [[s24_router_audit]] measured trained cells at ~2× the label cells'
    * recall at every width (sf0.1: 0.43 vs 0.23 at the p = 2 default;
    * trained p2 ≈ label p4 at half the scan), so the measured claim
    * became code and s24 is this operator's standing deploy gate.
    * s21/s23's `ivf_sq8_p*` rows grade the retired label router — the
    * history that motivated the swap. Probe width multiplies the
    * per-query scanned codes (p·N/cells), never the corpus shuffle. */
  def s22_ivf_sq8(s: SparkSession, dir: String): DataFrame =
    ivfSq8Served(s, dir, ServingNprobe, sq8RerankDepth(s))

  /** Query→cell routing at an explicit probe width: every query's
    * top-`probes` label-centroid cells by exact-decimal dot, with the
    * probe rank (1 = nearest). The routing table is |Q|·probes rows —
    * broadcast by construction. Factored `private[graft]` so the spec can
    * pin s22's cell contract at any width. */
  private[graft] def ivfSq8Routes(s: SparkSession, dir: String,
                                  probes: Int): DataFrame = {
    labelRoutes(s, dir, probes).select(col("q_id"), col("probe"), col("label"))
  }

  /** The multi-probe IVF×SQ8 scored relation over LABEL cells: every
    * (query, candidate in a probed cell) int8 dot score, tagged with the
    * candidate cell's probe rank — a candidate belongs to exactly ONE
    * cell, so it carries exactly one probe rank per query, and ONE
    * relation grades every width ≤ `maxProbes` via a `probe <= p` filter
    * (the s10 audit-contains-its-subjects shape, here for the int8
    * backend). The corpus never shuffles: the prune is a broadcast
    * equi-join on the cell label, and scoring is the codegen'd `dot_i8`.
    * AUDIT-ONLY: [[s24_router_audit]] measured the trained
    * router at ~2× this router's recall per width, so serving (s22) moved
    * there; s21/s23/s24's label legs keep grading this one. */
  private def ivfSq8ScoredMp(s: SparkSession, dir: String,
                             maxProbes: Int): DataFrame = {
    val qv = sq8Quantized(s, dir)
    val qq = qv.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("qvec").as("qq"))
    qv.join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
            Seq("vec_id"))
      .join(broadcast(ivfSq8Routes(s, dir, maxProbes)), Seq("label")) // p/cells prune
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qq), Seq("q_id"))
      .withColumn("iscore", graft.functions.dot_i8(col("qvec"), col("qq")))
      .select(col("q_id"), col("probe"), col("label"), col("vec_id"), col("iscore"))
  }

  /** The TRAINED corpus assignment behind the serving router: every vector
    * assigned to its nearest trained coarse centroid (s4/s7's k-means,
    * k = 10, squared-euclidean, ties to the lower cluster) — one per-row
    * argmin over the broadcast k-row centroid table, staged per session
    * (in production the index IS this assignment, computed at ingest).
    * The int8 encode stays unstaged: it is cheap to recompute. */
  private[graft] def sq8TrainedAssign(s: SparkSession, dir: String): DataFrame = {
    stage(s, ("sq8Asg", dir))(
      assignToNearest(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        trainCoarse(s, dir))
        .select(col("vec_id"), col("cluster"))
        .localCheckpoint())
  }

  /** Trained-router query routing at an explicit width: every query's
    * top-`probes` trained cells by the assignment metric (squared
    * euclidean), with the probe rank. |Q|·probes rows — broadcast by
    * construction. */
  private[graft] def ivfSq8TrainedRoutes(s: SparkSession, dir: String,
                                         probes: Int): DataFrame = {
    routeNearest(Tables.embeddings(s, dir).filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qemb")),
      col("qemb"), trainCoarse(s, dir), probes, sqDist)
      .select(col("q_id"), col("probe"), col("cluster"))
  }

  /** [[ivfSq8ScoredMp]]'s twin over the TRAINED router's cells — the
    * SERVING scored relation ([[s24_router_audit]] measured ~2× recall
    * per probe over the label router). Same shape: per-probe
    * int8 scores, corpus never shuffles, candidate carries its own
    * trained cell. */
  private def ivfSq8ScoredMpTrained(s: SparkSession, dir: String,
                                    maxProbes: Int): DataFrame = {
    val qv = sq8Quantized(s, dir)
    val qq = qv.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("qvec").as("qq"))
    qv.join(sq8TrainedAssign(s, dir), Seq("vec_id"))
      .join(broadcast(ivfSq8TrainedRoutes(s, dir, maxProbes)), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qq), Seq("q_id"))
      .withColumn("iscore", graft.functions.dot_i8(col("qvec"), col("qq")))
      .select(col("q_id"), col("probe"), col("cluster"), col("vec_id"), col("iscore"))
  }

  /** The IVF×SQ8 serve at explicit (probes, depth): int8-score the probed
    * TRAINED cells ([[s24_router_audit]]'s measured router decision),
    * shortlist the per-query top-`depth` by integer score across ALL
    * probed cells, exact-cosine re-rank the shortlist, emit top-5.
    * [[s22_ivf_sq8]] binds the knobs; [[s24_router_audit]] is the deploy
    * gate for this posture. */
  private[graft] def ivfSq8Served(s: SparkSession, dir: String,
                                  probes: Int, depth: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
              dot(col("embedding"), col("embedding")).as("n2"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"), col("n2").as("qn2"))
    val short = ivfSq8ScoredMpTrained(s, dir, probes)
      .withColumn("q_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("iscore").desc, col("vec_id"))).cast("long"))
      .filter(col("q_rank") <= depth)
      .select(col("q_id"), col("cluster"), col("vec_id"), col("iscore"))
    short
      .join(emb.select(col("vec_id"), col("embedding"), col("n2")), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine",
        round4(dot(col("embedding"), col("qemb")) / sqrt(col("qn2") * col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("cluster").as("cell"), col("vec_id").as("n_id"),
              col("iscore"), col("cosine"), col("rank"))
      .orderBy("q_id", "rank")
  }

  def s22SqlAt(depth: Int, probes: Int): String =
    s"""WITH $elemsSqlCte, $sq8SqlCtes, $coarseTrainCtes, asg24 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS rn
      |    FROM e JOIN c2 c USING (i)
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE rn = 1
      |), routed AS (
      |  SELECT vec_id AS q_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY sum(((e.v - c.cv) * (e.v - c.cv))::DECIMAL(30,20))::VARCHAR::DOUBLE,
      |                 c.cluster) AS probe
      |    FROM e JOIN c2 c USING (i)
      |    WHERE e.vec_id % 100 = 0
      |    GROUP BY e.vec_id, c.cluster)
      |  WHERE probe <= $probes
      |), isc22 AS (
      |  SELECT qq.vec_id AS q_id, a.cluster, dd.vec_id AS vec_id,
      |         sum(qq.q * dd.q)::BIGINT AS iscore
      |  FROM qv8 qq
      |  JOIN routed r ON r.q_id = qq.vec_id
      |  JOIN asg24 a ON a.cluster = r.cluster
      |  JOIN qv8 dd ON dd.vec_id = a.vec_id AND dd.i = qq.i
      |              AND dd.vec_id <> qq.vec_id
      |  GROUP BY 1, 2, 3
      |), srk22 AS (
      |  SELECT q_id, cluster, vec_id, iscore,
      |    row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS q_rank
      |  FROM isc22
      |), norms AS (
      |  SELECT vec_id, sum((v * v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS n2 FROM e GROUP BY 1
      |), rr AS (
      |  SELECT sh.q_id, sh.cluster, sh.vec_id, sh.iscore,
      |         sum((eq.v * ed.v)::DECIMAL(30,20))::VARCHAR::DOUBLE AS dp
      |  FROM srk22 sh
      |  JOIN e eq ON eq.vec_id = sh.q_id
      |  JOIN e ed ON ed.vec_id = sh.vec_id AND ed.i = eq.i
      |  WHERE sh.q_rank <= $depth
      |  GROUP BY 1, 2, 3, 4
      |), scored AS (
      |  SELECT q_id, cluster AS cell, rr.vec_id AS n_id, iscore,
      |    floor(dp / sqrt(nq.n2 * nd.n2) * 10000.0 + 0.5) / 10000.0 AS cosine
      |  FROM rr
      |  JOIN norms nq ON nq.vec_id = q_id
      |  JOIN norms nd ON nd.vec_id = rr.vec_id
      |), ranked AS (
      |  SELECT q_id, cell, n_id, iscore, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, cell, n_id, iscore, cosine, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  def s22Sql: String = s22SqlAt(Sq8RerankDepthDefault, ServingNprobe)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s25_cell_sweep" -> (s25_cell_sweep _),
    "s25_routed_sweep" -> (s25_routed_sweep _),
    "s24_router_audit" -> (s24_router_audit _),
    "s23_sq8_grid" -> (s23_sq8_grid _),
    "s22_ivf_sq8" -> (s22_ivf_sq8 _),
    "s20_sq8_topk" -> (s20_sq8_topk _),
    "s21_sq8_recall" -> (s21_sq8_recall _),
    "s19_retrieval_eval" -> (s19_retrieval_eval _),
    "s18_ivfpq_incremental" -> (s18_ivfpq_incremental _),
    "c8_gated_increment" -> (c8_gated_increment _),
    "s17_hard_negatives" -> (s17_hard_negatives _),
    "s17_hard_negatives_ivf" -> (s17_hard_negatives_ivf _),
    "s16_hybrid_rrf" -> (s16_hybrid_rrf _),
    "s16_hybrid_rrf_ivf" -> (s16_hybrid_rrf_ivf _),
    "s15_filtered_ann" -> (s15_filtered_ann _),
    "s14_cluster_card" -> (s14_cluster_card _),
    "s13_ivfpq_rerank" -> (s13_ivfpq_rerank _),
    "s12_shard_recall" -> (s12_shard_recall _),
    "s11_knn_graph_sharded" -> (s11_knn_graph_sharded _),
    "s11_knn_graph"    -> (s11_knn_graph _),
    "c2_semdedup"      -> (c2_semdedup _),
    "c2_semdedup_ann"  -> (c2_semdedup_ann _),
    "c2_assign_audit"  -> (c2_assign_audit _),
    "c2_prune_audit"   -> (c2_prune_audit _),
    "s10_ivfpq_recall" -> (s10_ivfpq_recall _),
    "s8_recall_audit" -> (s8_recall_audit _),
    "s7_ivfpq_topk"  -> (s7_ivfpq_topk _),
    "s6_pq_trained"  -> (s6_pq_trained _),
    "s5_pq_topk"     -> (s5_pq_topk _),
    "s1_ann_topk"    -> (s1_ann_topk _),
    "s2_lsh_neardup" -> (s2_lsh_neardup _),
    "s3_ivf_topk"    -> (s3_ivf_topk _),
    "s4_kmeans_train" -> (s4_kmeans_train _))

  lazy val oracles: Map[String, String] = Map(
    "s25_cell_sweep" -> s25Sql,
    "s25_routed_sweep" -> s25RoutedSql,
    "s24_router_audit" -> s24Sql,
    "s23_sq8_grid" -> s23Sql,
    "s22_ivf_sq8" -> s22Sql,
    "s20_sq8_topk" -> s20Sql,
    "s21_sq8_recall" -> s21Sql,
    "s19_retrieval_eval" -> s19Sql,
    "s18_ivfpq_incremental" -> s18Sql,
    "c8_gated_increment" -> c8Sql,
    "s17_hard_negatives" -> s17Sql,
    "s17_hard_negatives_ivf" -> s17IvfSql,
    "s16_hybrid_rrf" -> s16Sql,
    "s16_hybrid_rrf_ivf" -> s16IvfSql,
    "s15_filtered_ann" -> s15Sql,
    "s14_cluster_card" -> s14Sql,
    "s13_ivfpq_rerank" -> s13Sql,
    "s12_shard_recall" -> s12Sql,
    "s11_knn_graph_sharded" -> s11ShardedSql,
    "s11_knn_graph"    -> s11Sql,
    "c2_semdedup"      -> c2Sql,
    "c2_semdedup_ann"  -> c2AnnSql,
    "c2_assign_audit"  -> c2AuditSql,
    "c2_prune_audit"   -> c2PruneAuditSql,
    "s10_ivfpq_recall" -> s10Sql,
    "s8_recall_audit" -> s8Sql,
    "s7_ivfpq_topk"  -> s7Sql,
    "s6_pq_trained"  -> s6Sql,
    "s5_pq_topk"     -> s5Sql,
    "s1_ann_topk"    -> s1Sql,
    "s2_lsh_neardup" -> s2Sql,
    "s3_ivf_topk"    -> s3Sql,
    "s4_kmeans_train" -> s4Sql)
}
