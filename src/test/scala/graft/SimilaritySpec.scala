package graft

import graft.queries.Similarity

/** Similarity-search invariants beyond the oracle hashes: the native
  * vector expressions against driver-side folds, the two-stage prefilter
  * margins, centroid routing and its tie-break, the serving postures
  * (s20/s22/s23/s25) and the IVF-PQ / SQ8 audit contracts. */
class SimilaritySpec extends SparkSpec {

  test("native dot_f32 equals the ascending-index double fold bit-for-bit") {
    // the fold baseline is computed in the DRIVER, outside any Spark
    // expression, so the native loop is checked against an independent
    // ascending-index double fold
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.col("embedding").as("a"))
      .limit(200).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1))
    val q = emb.take(7)
    def fold(a: scala.collection.Seq[Float], b: scala.collection.Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val expected = for ((_, a) <- emb; (_, b) <- q) yield fold(a, b)
    val embDf = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("embedding").as("a")).limit(200)
    val qDf = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("embedding").as("b")).limit(7)
    val native = embDf.crossJoin(qDf)
      .selectExpr("dot_f32(a, b) AS dp").collect().map(_.getDouble(0))
    assert(native.sorted.toSeq == expected.sorted.toSeq)
  }

  test("s22 answers only from the probed cells and never beats the global SQ8 serve") {
    val dir = "/root/testdata/sf0.01"
    val s22 = Similarity.s22_ivf_sq8(spark, dir).collect()
    assert(s22.nonEmpty)
    // cell contract at the shipped posture (the TRAINED router at the
    // ServingNprobe width — s24's measured decision): every neighbor's
    // cell is among the query's top-ServingNprobe trained cells, and the
    // emitted `cell` column is the neighbor's own trained assignment
    val probes = Similarity.ServingNprobe
    val routed = Similarity.ivfSq8TrainedRoutes(spark, dir, probes).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val asg = Similarity.sq8TrainedAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s22.forall(r => asg(r.getLong(2)) == r.getLong(1)),
      "s22's cell column must be the neighbor's own trained cell")
    assert(s22.forall(r => routed(r.getLong(0)).contains(r.getLong(1))),
      "s22 returned a neighbor outside the query's probed cells")
    // and the probed-cell sets nest: p1 ⊂ p2 per query (the multi-probe
    // relation grades widths by filtering, so nesting is the contract)
    val r1 = Similarity.ivfSq8TrainedRoutes(spark, dir, 1).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(r1.forall { case (q, cs) => cs.subsetOf(routed(q)) })
    // the cell-restricted serve can never beat the global serve: per query,
    // s22's best cosine <= s20's best cosine (s20's d50 shortlist is exact
    // on this corpus — s21 measures recall 1.00 — so its top-1 IS the
    // global exact top-1, which no restricted candidate set can exceed)
    val best22 = s22.filter(_.getLong(5) == 1L)
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val best20 = Similarity.s20_sq8_topk(spark, dir).collect()
      .filter(_.getLong(4) == 1L)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(best22.keySet == best20.keySet)
    assert(best22.forall { case (q, c) => c <= best20(q) + 1e-12 },
      "cell-restricted top-1 beat the global top-1")
  }

  test("s23 grid: d50 column reproduces s21's ivf legs; recall is monotone in depth") {
    val dir = "/root/testdata/sf0.001"
    val grid = Similarity.s23_sq8_grid(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(grid.size == 9)
    // cross-audit consistency: the (p, 50) column IS s21's ivf rows
    val s21 = Similarity.s21_sq8_recall(spark, dir).collect()
      .filter(_.getString(0).startsWith("ivf_sq8_p"))
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    for (p <- Seq(1, 2, 4))
      assert(grid((p, 50)) == s21(s"ivf_sq8_p${p}_d50"),
        s"grid cell (p=$p, d=50) must equal s21's leg")
    // contract, not measurement: a deeper shortlist is a superset, so the
    // exact re-rank's recall is monotone non-decreasing in depth at fixed p
    for (p <- Seq(1, 2, 4); Seq(d1, d2) <- Seq(10, 50, 200).sliding(2))
      assert(grid((p, d1))._1 <= grid((p, d2))._1,
        s"recall must not drop when depth grows (p=$p, $d1 -> $d2)")
  }

  test("s25 k=10 point reproduces s24's trained p2 leg; ⌊√N⌋ row present; scan totals measured") {
    val dir = "/root/testdata/sf0.001"
    val sweep = Similarity.s25_cell_sweep(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // 22 = floor(sqrt(500)): the data-dependent ⌊√N⌋ point fired
    assert(sweep.keySet == Set(5, 10, 20, 22))
    assert(sweep.values.forall(_._2 > 0), "every sweep point must scan someone")
    // more cells → narrower cells: the ⌊√N⌋ point scans the least (pinned
    // on this corpus; the general trend is p·N/k)
    assert(sweep(22)._2 < sweep(5)._2,
      "the ⌊√N⌋ point must scan fewer candidates than the coarsest point")
    // cross-audit pin: the k=10 sweep point IS s24's trained p2/d50 leg
    // (same trained quantizer, same width, same depth, same ground truth).
    // Holds because the sweep's sampled training degenerates to full-corpus
    // training in the N <= m regime (N = 500 <= m = 1024 here) — the same
    // identity the CORRECTNESS gate exercises at sf0.01.
    val s24 = Similarity.s24_router_audit(spark, dir).collect()
      .filter(r => r.getString(0) == "trained" && r.getInt(1) == 2)
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .head
    val k10 = sweep(10)
    assert((k10._1, k10._3, k10._4, k10._5) == s24,
      "the k=10/p=2/d50 sweep point must equal s24's trained p2 leg")
  }

  test("c2 prefilter margin is lossless: double cosine never strays 1e-10 from exact") {
    // The c2_semdedup stage-1 prefilter admits pairs with double-dot cosine
    // >= 0.3999; stage 2 gates on the exact-decimal cosine rounding to
    // >= 0.40, which requires exact >= 0.39995. The prefilter is lossless
    // iff |double - exact| < 5e-5 always. Property-check the much tighter
    // 1e-10 bound over seeded random vector pairs swept across correlation
    // levels so cosines cluster around the 0.4 gate.
    val rnd = new scala.util.Random(42)
    def exactCosine(a: Array[Float], b: Array[Float]): Double = {
      // mirror the engines' DECIMAL(30,20) fold: each double product
      // half-even-rounded to 20 fractional digits, then summed exactly
      def fold(x: Array[Float], y: Array[Float]): BigDecimal =
        x.zip(y).map { case (p, q) =>
          BigDecimal(p.toDouble * q.toDouble)
            .setScale(20, BigDecimal.RoundingMode.HALF_EVEN)
        }.sum
      val (dp, na, nb) = (fold(a, b), fold(a, a), fold(b, b))
      dp.toDouble / math.sqrt(na.toDouble * nb.toDouble)
    }
    def doubleCosine(a: Array[Float], b: Array[Float]): Double = {
      def fold(x: Array[Float], y: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
        acc
      }
      fold(a, b) / math.sqrt(fold(a, a) * fold(b, b))
    }
    var maxDiff = 0.0
    for (_ <- 1 to 300) {
      val a = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
      val mix = rnd.nextDouble() // 0 = independent, 1 = identical
      val b = a.map(x => (mix * x + (1 - mix) * (rnd.nextDouble() * 2 - 1)).toFloat)
      val (ex, db) = (exactCosine(a, b), doubleCosine(a, b))
      maxDiff = math.max(maxDiff, math.abs(ex - db))
      // the operative implication, stated directly
      if (math.floor(ex * 10000.0 + 0.5) / 10000.0 >= 0.4)
        assert(db >= 0.3999, s"prefilter would drop a qualifying pair: exact=$ex double=$db")
    }
    assert(maxDiff < 1e-10, s"double fold strayed $maxDiff from the exact-decimal fold")
  }

  test("s11 two-stage re-rank is lossless on rounding-quantum near-ties") {
    // Adversarial input for the 1.2e-4 margin: a clique of vectors whose
    // pairwise cosines differ by ~1e-6..1e-5 — far below the 1e-4 output
    // rounding quantum — so the final (rounded cosine, n_id) ranking is
    // decided by vec_id TIE-BREAKS among vectors stage 1's double ranking
    // orders differently. If the margin failed to admit every member of
    // the rounded 3rd-best class, ranks would diverge from the full exact
    // ranking computed here in the driver.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    def perturbed(eps: Double): Array[Float] =
      base.zipWithIndex.map { case (x, i) =>
        (x + eps * (if (i % 2 == 0) 1 else -1) * rnd.nextDouble()).toFloat }
    val vecs: Seq[(Long, Array[Float], Int)] =
      (0L until 12L).map(i => (i, perturbed(1e-5 * (i + 1)), 1)) ++ // near-tie clique
      (12L until 14L).map(i => (i, base, 1)) ++                     // exact duplicates
      (14L until 20L).map(i =>
        (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat), 2)) // control block
    val tmp = java.nio.file.Files.createTempDirectory("s11_spec_").toString
    spark.createDataFrame(vecs).toDF("vec_id", "embedding", "label")
      .write.parquet(tmp + "/embeddings.parquet")

    def decFold(a: Array[Float], b: Array[Float]): BigDecimal =
      a.zip(b).map { case (p, q) =>
        BigDecimal(p.toDouble * q.toDouble)
          .setScale(20, BigDecimal.RoundingMode.HALF_EVEN) }.sum
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val byId = vecs.map(v => v._1 -> v).toMap
    val expected = vecs.flatMap { case (q, qe, lbl) =>
      vecs.filter(v => v._3 == lbl && v._1 != q)
        .map { case (n, ne, _) =>
          val cos = r4(decFold(qe, ne).toDouble /
            math.sqrt(decFold(qe, qe).toDouble * decFold(ne, ne).toDouble))
          (q, n, cos)
        }
        .sortBy { case (_, n, cos) => (-cos, n) }
        .take(3).zipWithIndex
        .map { case ((qq, n, cos), i) => (qq, lbl, n, cos, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._5))
    val got = Similarity.s11_knn_graph(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
                 r.getLong(4))).toSeq
    assert(got == expected)
  }

  test("semdedupK shrinks the within-cell pair space (the k ∝ corpus contract)") {
    // c2's pairwise stage is (n/k)²·k at fixed k; growing k must shrink the
    // pair space the prefilter scans. Assert it concretely: sum over cells
    // of C(size, 2) at k = 50 is well below k = 10 on the same corpus, and
    // the query itself still runs end-to-end at the non-default k.
    val dir = "/root/testdata/sf0.001"
    val key = "spark.graft.semdedupK"
    def cellSizes(): Map[Long, Long] =
      Similarity.c2_semdedup(spark, dir).groupBy("cell").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def pairSpace(m: Map[Long, Long]): Long =
      m.values.map(n => n * (n - 1) / 2).sum
    val base = pairSpace(cellSizes())
    spark.conf.set(key, "50")
    try {
      val sizes50 = cellSizes()
      assert(sizes50.size > 10, s"expected >10 populated cells, got ${sizes50.size}")
      val scaled = pairSpace(sizes50)
      assert(scaled * 2 <= base,
        s"pair space did not shrink: k=10 -> $base pairs, k=50 -> $scaled")
    } finally spark.conf.unset(key)
  }

  test("c2-ann two-level assignment degenerates to exact at full sample + all-pilot") {
    // With the training sample covering the whole corpus and EVERY trained
    // centroid its own pilot (g = k: each centroid's nearest pilot is
    // itself at distance 0), c2_semdedup_ann's sampled training and
    // two-level routing both collapse to c2_semdedup's exhaustive forms —
    // the variant must then reproduce the exact result row-for-row. This
    // pins the routing algebra; the production win is the non-degenerate
    // configuration (g ≈ √k), whose per-vector cost is g + k/g ≪ k.
    val dir = "/root/testdata/sf0.001"
    val exact = Similarity.c2_semdedup(spark, dir).collect().toSeq
    spark.conf.set("spark.graft.semdedupSample", "100000000")
    spark.conf.set("spark.graft.semdedupRouteCells", "10") // = default k
    try {
      val ann = Similarity.c2_semdedup_ann(spark, dir).collect().toSeq
      assert(ann == exact, "degenerate ANN assignment diverged from exact")
    } finally {
      spark.conf.unset("spark.graft.semdedupSample")
      spark.conf.unset("spark.graft.semdedupRouteCells")
    }
  }

  test("c2-ann production shape runs at scaled k with a bounded sample") {
    // The deployment configuration itself (k = 40, sample = 256, g = √k):
    // every vector gets exactly one verdict row, cells are populated
    // beyond the pilot count (routing actually fans out past the pilots),
    // and the per-cell pair space stays bounded like c2's k-contract.
    val dir = "/root/testdata/sf0.001"
    for ((key, v) <- Seq("spark.graft.semdedupK" -> "40",
                         "spark.graft.semdedupSample" -> "256",
                         "spark.graft.semdedupRouteCells" -> "6"))
      spark.conf.set(key, v)
    try {
      val rows = Similarity.c2_semdedup_ann(spark, dir).collect()
      val n = Tables.embeddings(spark, dir).count()
      assert(rows.length.toLong == n, s"expected one verdict per vector")
      val cells = rows.map(_.getLong(1)).distinct
      assert(cells.length > 6, s"routing collapsed onto the pilots: ${cells.length} cells")
    } finally Seq("spark.graft.semdedupK", "spark.graft.semdedupSample",
                  "spark.graft.semdedupRouteCells").foreach(spark.conf.unset)
  }

  test("c2 assignment audit: excess is zero exactly on fully-matched cells; g = k is exact") {
    // the audit's own invariants: the routed distance can never beat the
    // exhaustive minimum (excess ≥ 0), a fully-agreeing cell has zero
    // excess, and the degenerate all-pilot config must audit as exact
    val dir = "/root/testdata/sf0.001"
    def rows() = Similarity.c2_assign_audit(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4))) // (n, match, excess)
    for ((n, m, ex) <- rows()) {
      assert(ex >= 0, "routed distance beat the exhaustive minimum")
      if (m == n) assert(ex == 0, "agreeing cell with positive excess")
    }
    spark.conf.set("spark.graft.semdedupRouteCells", "10") // = default k: exact
    try {
      val exact = rows()
      assert(exact.nonEmpty && exact.forall { case (n, m, ex) => m == n && ex == 0 },
        "all-pilot routing must audit as exact")
    } finally spark.conf.unset("spark.graft.semdedupRouteCells")
  }

  test("incremental IVF-PQ is append-only: the delta fold never touches settled codes") {
    // the frozen-index contract behind s18's batch oracle: the settled
    // index's code table is a persisted artifact; an increment may only
    // APPEND delta rows. Assert the partition is exact — settled codes
    // cover exactly the settled ids (8 subspace codes each), the delta
    // fold emits exactly the delta ids, and the two are disjoint.
    val dir = "/root/testdata/sf0.001"
    val idxS = Similarity.ivfpqSettledIndex(spark, dir)
    val (_, _, codesD) = Similarity.s18DeltaFold(spark, dir, idxS)
    val n = Tables.embeddings(spark, dir).count()
    val nDelta = Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0).count()
    val settledIds = idxS.codes.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    val deltaIds = codesD.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(deltaIds.nonEmpty && deltaIds.forall(_ % 10 == 0), "non-delta id in the delta fold")
    assert(settledIds.forall(_ % 10 != 0), "delta id leaked into the settled index")
    assert((settledIds ++ deltaIds).size.toLong == n, "merged codes do not cover the corpus")
    assert(idxS.codes.count() == (n - nDelta) * 8 && codesD.count() == nDelta * 8,
      "expected exactly 8 subspace codes per vector on each side")
  }

  test("kNN ranking shuffles stay narrow: no array payload feeds a window (s11 + sharded)") {
    // The narrow-plan contract both kNN graphs claim: the 64-float
    // embedding payloads move only through the candidate/payload joins —
    // the exchange DIRECTLY feeding each ranking window (through its sort)
    // must carry scalar columns only. A regression that lets payloads ride
    // a ranking shuffle multiplies that exchange's bytes ~64× at any scale.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // AQE hides the finalized stages behind AdaptiveSparkPlanExec /
    // QueryStageExec wrappers — descend through them explicitly
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    def exchangeBelow(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Some(e)
      case q: QueryStageExec      => exchangeBelow(q.plan)
      case other => other.children.headOption.flatMap(exchangeBelow)
    }
    for ((name, df) <- Seq(
        "s11" -> Similarity.s11_knn_graph(spark, "/root/testdata/sf0.001"),
        "s11_sharded" -> Similarity.s11_knn_graph_sharded(spark, "/root/testdata/sf0.001"),
        "s13_rerank" -> Similarity.s13_ivfpq_rerank(spark, "/root/testdata/sf0.001"),
        "s20_sq8" -> Similarity.s20_sq8_topk(spark, "/root/testdata/sf0.001"))) {
      df.collect() // finalize the adaptive plan
      val windows = flatten(df.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected ranking windows")
      for (w <- windows; e <- exchangeBelow(w.child)) {
        val wide = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(wide.isEmpty,
          s"$name: array payload ${wide.map(_.name).mkString(",")} rides the ranking shuffle")
      }
    }
  }

  test("c8 drift gate fires both branches deterministically on engineered histograms") {
    import spark.implicits._
    // undrifted: delta occupancy proportional to settled (10% slice per
    // cell) -- the gate must stay far below the 0.05 retrain line
    val flat = (0L until 10L).map(c => (c, 100L, 1000L)).toDF("cell", "dc", "sc")
    val g1 = Similarity.c8KlGate(flat).collect()(0)
    assert(g1.getLong(1) == 1000L && g1.getLong(2) == 10L)
    assert(g1.getDouble(3) < 0.05,
      s"proportional delta must read undrifted (append branch): $g1")
    // drifted: the whole delta piles into the one cell the settled corpus
    // barely uses -- exactly the shifted-embedding shape that invalidates
    // frozen centroids; the gate must cross the retrain line
    val skew = (0L until 10L)
      .map(c => (c, if (c == 9) 1000L else 0L, if (c == 9) 10L else 1000L))
      .toDF("cell", "dc", "sc")
    val g2 = Similarity.c8KlGate(skew).collect()(0)
    assert(g2.getDouble(3) > 0.05,
      s"concentrated delta must read drifted (retrain branch): $g2")
  }

  test("native dot_i8: exact integer scores + the composed fold's null semantics") {
    val d = spark.sql("SELECT dot_i8(CAST(array(1, -2, 3) AS ARRAY<TINYINT>), " +
      "CAST(array(4, 5, 6) AS ARRAY<TINYINT>)) AS d").collect()(0)
    assert(d.getLong(0) == 4L - 10L + 18L)
    // length mismatch and a null element both poison the result, exactly
    // like aggregate(zip_with(...)) would
    val mism = spark.sql("SELECT dot_i8(CAST(array(1, 2) AS ARRAY<TINYINT>), " +
      "CAST(array(1) AS ARRAY<TINYINT>)) AS d").collect()(0)
    assert(mism.isNullAt(0))
    val withNull = spark.sql("SELECT dot_i8(CAST(array(1, NULL) AS ARRAY<TINYINT>), " +
      "CAST(array(1, 2) AS ARRAY<TINYINT>)) AS d").collect()(0)
    assert(withNull.isNullAt(0))
  }

  test("sq8 codes are bounded in [-127, 127] and the per-dim extreme hits the rail") {
    val qv = Similarity.sq8Quantized(spark, "/root/testdata/sf0.001")
    val r = qv.selectExpr("min(array_min(qvec)) AS mn", "max(array_max(qvec)) AS mx")
      .collect()(0)
    val (mn, mx) = (r.getByte(0).toInt, r.getByte(1).toInt)
    assert(mn >= -127 && mx <= 127, s"codes out of range: [$mn, $mx]")
    // the vector that defines a dimension's scale quantizes to exactly ±127
    assert(math.max(math.abs(mn), mx) == 127, s"no code on the rail: [$mn, $mx]")
  }

  test("assignToNearest zero-shuffle fold equals the brute-force argmin, ties to lower cluster") {
    // assignment and top-p routing are one per-row sort over the broadcast
    // centroid array (Similarity.nearest); this pins it against an
    // in-memory argmin and a driver-side sort by (dist, cluster), with
    // duplicated centroid vectors forcing exact distance ties.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0L until 60L).map(i => (i, Seq.fill(4)(rnd.nextInt(3).toDouble)))
    val cents0 = (0L until 5L).map(c => (c, Seq.fill(4)(rnd.nextInt(3).toDouble)))
    val cents = cents0.updated(3, (3L, cents0(1)._2)) // clusters 1 and 3 tie exactly
    val embDf = emb.toDF("vec_id", "embedding")
    val centDf = cents.toDF("cluster", "cemb")
    def byDist(e: Seq[Double]): Seq[(Double, Long)] =
      cents.map { case (c, ce) => (e.zip(ce).map { case (x, y) => (x - y) * (x - y) }.sum, c) }
    val expected = emb.map { case (id, e) => id -> byDist(e).min._2 }.toMap
    val out = graft.queries.Similarity.assignToNearest(embDf, centDf)
    val rows = out.collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected)
    // cemb must be the assigned cluster's centroid, input columns intact
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "cluster", "cemb"))
    val cmap = cents.toMap
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Double]]("cemb") == cmap(r.getLong(2)), "cemb")
      assert(r.getAs[scala.collection.Seq[Double]]("embedding") ==
        emb(r.getLong(0).toInt)._2, "embedding")
    }
    // top-p: probe i is the i-th entry of the (dist, cluster) sort
    for (p <- Seq(1, 2, 5)) {
      val got = Similarity.routeNearest(embDf, embDf("embedding"), centDf, p, Similarity.sqDist)
        .collect().groupBy(_.getAs[Long]("vec_id")).map { case (id, rs) =>
          id -> rs.map(r => r.getAs[Int]("probe") -> r.getAs[Long]("cluster")).sorted.toSeq
        }
      val want = emb.map { case (id, e) =>
        id -> byDist(e).sorted.take(p).map(_._2).zipWithIndex
          .map { case (c, i) => (i + 1) -> c }
      }.toMap
      assert(got == want, s"p=$p")
    }
  }

  test("s20 equals the brute-force top-5 at full depth, and at the DEFAULT depth at sf0.01") {
    // full shortlist ⇒ the exact re-rank IS the brute-force ranking
    spark.conf.set("spark.graft.sq8RerankDepth", "1000000")
    try {
      val s20 = Similarity.s20_sq8_topk(spark, "/root/testdata/sf0.001")
        .select("q_id", "n_id", "rank").collect().toSeq
      val s1 = Similarity.s1_ann_topk(spark, "/root/testdata/sf0.001")
        .select("q_id", "n_id", "rank").collect().toSeq
      assert(s20 == s1, "full-depth SQ8 re-rank must reproduce s1 exactly")
    } finally spark.conf.unset("spark.graft.sq8RerankDepth")
    // the shipped default (50, s21's measured knee) already reaches exact
    // top-5 at sf0.01 — the spec twin of the audit's d50 recall = 1.0 row
    val s20d = Similarity.s20_sq8_topk(spark, "/root/testdata/sf0.01")
      .select("q_id", "n_id", "rank").collect().toSeq
    val s1d = Similarity.s1_ann_topk(spark, "/root/testdata/sf0.01")
      .select("q_id", "n_id", "rank").collect().toSeq
    assert(s20d == s1d, "default-depth SQ8 re-rank must match s1 at sf0.01")
  }
}
