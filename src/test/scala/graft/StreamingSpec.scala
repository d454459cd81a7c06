package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Event-time streaming semantics with controlled out-of-order input via
  * MemoryStream: watermark dropping (L1/L2) and final-value fidelity of the
  * windowed aggregation under bounded out-of-orderness (SURVEY.md §2.6). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  test("watermarked tumbling agg: late-but-within-bound events still count") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val agg = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("start"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: in-order events advance watermark to 02:00 - 30min = 01:30
      mem.addData((1L, ts("2024-01-01T00:10:00Z")), (2L, ts("2024-01-01T02:00:00Z")))
      q.processAllAvailable()
      // batch 2: event at 01:40 is out-of-order but AFTER watermark => kept
      mem.addData((3L, ts("2024-01-01T01:40:00Z")))
      q.processAllAvailable()
      // batch 3: advance watermark past 02:00 to close windows 0 and 1
      mem.addData((4L, ts("2024-01-01T03:00:00Z")))
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // window 00:00 closed with 1 event; window 01:00 closed with the late event
      assert(rows.get(java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond)
        .contains(1L))
      assert(rows.get(java.time.Instant.parse("2024-01-01T01:00:00Z").getEpochSecond)
        .contains(1L))
    } finally q.stop()
  }

  test("watermark drops are observable in the progress metrics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val agg = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_metrics")
      .outputMode(OutputMode.Append()).start()
    try {
      // advance the watermark to 03:30, then feed an event far behind it
      mem.addData((1L, ts("2024-01-01T04:00:00Z")))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01T01:00:00Z")))
      q.processAllAvailable()
      // the drop must be visible in the state-operator metrics — the
      // monitoring channel an operator would alert on (the reference's
      // late-side-output counter); the accepted row count must exclude it
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"expected exactly the one late row dropped, got $dropped")
    } finally q.stop()
  }

  test("streaming sliding agg over bounded replay equals batch result") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streams.x1_sliding_counts(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Windows.w2_sliding_counts(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState running sum equals batch window form") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streams.x2_running_user_sum(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Stateful.st4_running_user_sum(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("arrival-order replay: watermark drops exactly the late-audit records") {
    // Five events replayed in (jittered) ARRIVAL order, one micro-batch each,
    // so the watermark advances per record exactly like the l2_late_audit
    // rule: late iff event time < max-prior-arrival event time - 30 min.
    // Only e4 (event time 00:30, arriving after the 02:00 record has pushed
    // the watermark to 01:30) is late.
    implicit val sqlCtx = spark.sqlContext
    val arrivalOrder = Seq( // (event_id, event time)
      1L -> ts("2024-01-01T00:00:00Z"),
      2L -> ts("2024-01-01T02:00:00Z"),
      3L -> ts("2024-01-01T01:45:00Z"), // out-of-order but within bound
      4L -> ts("2024-01-01T00:30:00Z"), // LATE: 00:30 < 02:00 - 30min
      5L -> ts("2024-01-01T04:00:00Z")) // closes all windows
    // the l2 rule applied to the same arrival order
    val lateByRule = arrivalOrder.zipWithIndex.filter { case ((_, t), i) =>
      val priorMax = arrivalOrder.take(i).map(_._2.getTime).maxOption
      priorMax.exists(pm => t.getTime < pm - 30 * 60 * 1000)
    }.map(_._1._1)
    assert(lateByRule == Seq(4L))
    val mem = MemoryStream[(Long, Timestamp)]
    val agg = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("start"), col("n"))
    val q = agg.writeStream.format("memory").queryName("replay_test")
      .outputMode(OutputMode.Append()).start()
    try {
      arrivalOrder.foreach { e => mem.addData(e); q.processAllAvailable() }
      val rows = spark.table("replay_test")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def h(s: String) = java.time.Instant.parse(s).getEpochSecond
      // e4 dropped: its 00:00 window closed with only e1
      assert(rows.get(h("2024-01-01T00:00:00Z")).contains(1L))
      // e3 kept despite out-of-order arrival
      assert(rows.get(h("2024-01-01T01:00:00Z")).contains(1L))
      assert(rows.get(h("2024-01-01T02:00:00Z")).contains(1L))
    } finally q.stop()
  }

  test("streaming resolver equals batch pointer-doubling") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streams.x3_stream_resolver(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Graph.st1_resolve_roots(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("update mode re-fires refined windows for late-but-within-lateness records") {
    // The Flink behavior under audit (ActivePostStatistician.java:52-53):
    // a window fires, then a record behind the watermark but inside
    // allowedLateness arrives and the window RE-FIRES a refined result.
    // Framed as ooo-bound 15 min + allowedLateness 15 min = Spark's single
    // 30-min delay: a record is a late re-fire trigger iff it arrives in a
    // later micro-batch (replay chunk) than some record of its window AND
    // its event time is >15 min behind the max event time of the earlier
    // batches (behind the 15-min Flink watermark; within lateness is
    // guaranteed — jitter < 30 min). sf0.01: the sf0.001 slice's inter-event
    // gap (~40 min) exceeds the 30-min jitter, so inversions barely exist
    // there; at sf0.01 the deterministic schedule carries two >15-min-late
    // chunk-boundary crossings.
    val dir = "/root/testdata/sf0.01"
    val arr = graft.queries.Replay.arrivals(spark, dir)
      .select("event_id", "es", "arrival_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    val n = arr.length
    // the replay dir's chunk boundaries: rk in [k*n/4+1, (k+1)*n/4]
    def chunkOf(rk: Int): Int =
      (0 until 4).find(k => rk >= k * n / 4 + 1 && rk <= (k + 1) * n / 4).get
    val recs = arr.zipWithIndex.map { case ((id, es, _), i) =>
      (id, es, es - es % 3600L, chunkOf(i + 1)) // (id, event-s, window, chunk)
    }
    // per-chunk precomputation (4 values/sets) — the per-record scans the
    // naive spelling does are O(n²) over 10k records
    val maxEsByChunk = recs.groupBy(_._4).view.mapValues(_.map(_._2).max).toMap
    val winsByChunk = recs.groupBy(_._4).view.mapValues(_.map(_._3).toSet).toMap
    val priorMaxFor = (1 to 3).map(c => c -> (0 until c).map(maxEsByChunk).max).toMap
    val firedBefore = (1 to 3).map(c => c -> (0 until c).flatMap(winsByChunk).toSet).toMap
    val refiredWindows = (for {
      (_, es, w, c) <- recs if c > 0
      if es < priorMaxFor(c) - 900L // behind the 15-min Flink watermark
      if firedBefore(c)(w) // window already fired in an earlier batch
    } yield w).distinct
    assert(refiredWindows.nonEmpty, "replay schedule produced no late re-fire candidates")

    val emissions = graft.streaming.Streams.x16_emissions(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every audited window re-emitted: >=2 snapshots with strictly grown counts
    refiredWindows.foreach { w =>
      val ns = emissions.filter(_._1 == w).map(_._2)
      assert(ns.length >= 2 && ns.distinct.length >= 2,
        s"window $w did not re-fire a refined result: emissions = ${ns.toSeq}")
    }
    // the refinement chain converges: final (max) emission per window equals
    // the batch tumbling count — nothing was dropped, only refined
    val finalByWin = emissions.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).max }
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalByWin == batch)
  }

  test("event-time-timer resolver resolves the full relation under replay") {
    // Replayed in jittered arrival order, children arriving before their
    // parents can ONLY be emitted from the EventTimeTimeout callback — a
    // complete result proves the timers fired and retried the parked set.
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streams.x3_timer_resolver(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Graph.st1_resolve_roots(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("the stream runner leaves no view and no conf behind; reruns under one label agree") {
    val dir = "/root/testdata/sf0.001"
    val confKeys = Seq("spark.sql.streaming.stateStore.providerClass",
                       "spark.sql.shuffle.partitions")
    def confs = confKeys.map(k => (spark.conf.getOption(k), spark.conf.getAll.get(k)))
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val (confsBefore, viewsBefore) = (confs, views)
    // x9 is a transformWithState plan: the runner switches it to RocksDB
    for (name <- Seq("x3_timer_resolver", "x9_tws_running_sum")) {
      val run = graft.streaming.Streams.queries(name)
      val first = run(spark, dir)
      val rows = first.collect().toSeq
      assert(rows.nonEmpty, name)
      assert(run(spark, dir).collect().toSeq == rows, s"$name: the rerun differs")
      assert(first.collect().toSeq == rows, s"$name: the first frame changed after the rerun")
    }
    assert(views -- viewsBefore == Set.empty, "the runner left temp views behind")
    assert(confs == confsBefore)
  }

  test("admission quota state carries across micro-batches") {
    // A user's events split across two triggers: the quota must bind
    // GLOBALLY (3 admitted total), not reset per trigger (which would
    // admit 2 + 2). The second trigger's lone admit continues the
    // admission index at 3 — proof the ValueState survived the batch
    // boundary.
    import graft.streaming.Streams.{Ev, admissionStateful}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val out = admissionStateful(mem.toDS(), q = 3L)
    val q = out.toDF().writeStream.format("memory").queryName("admit_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Ev(1L, 7L, 1000L, 0.0), Ev(2L, 7L, 2000L, 0.0))
      q.processAllAvailable()
      mem.addData(Ev(3L, 7L, 3000L, 0.0), Ev(4L, 7L, 4000L, 0.0),
                  Ev(5L, 8L, 1000L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("admit_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 7L, 1L), (2L, 7L, 2L), (3L, 7L, 3L),
                         (5L, 8L, 1L)))
    } finally q.stop()
  }

  test("funnel state machine carries across micro-batches") {
    // The view that qualifies a click arrives one trigger EARLIER than the
    // click, and the qualified click arrives a trigger earlier than the
    // purchase: every stage decision in trigger N depends on ValueState
    // written in trigger N−1. A per-trigger reset would count zero
    // conversions; the horizon must also bind (the 25 h-late click does
    // not qualify).
    import graft.streaming.Streams.{FunEv, funnelStateful}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val H = 3600000000L // 1 h in µs
    val mem = MemoryStream[FunEv]
    val q = funnelStateful(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("funnel_test").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(FunEv(7L, 1L, 0L, 0),          // view at t=0
                  FunEv(8L, 2L, 0L, 0))          // user 8: view only
      q.processAllAvailable()
      mem.addData(FunEv(7L, 3L, 23 * H, 1),      // click 23 h after the view: qualifies
                  FunEv(8L, 4L, 25 * H, 1))      // click 25 h after: horizon exceeded
      q.processAllAvailable()
      mem.addData(FunEv(7L, 5L, 24 * H, 2))      // purchase 1 h after the click
      q.processAllAvailable()
      val finals = spark.table("funnel_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map { case (u, rs) =>
          u -> rs.map(t => (t._2, t._3, t._4)).maxBy(t => (t._1, t._2, t._3)) }
      assert(finals(7L) == ((1L, 1L, 1L)), s"user 7 full conversion: $finals")
      assert(finals(8L) == ((1L, 0L, 0L)), s"user 8 horizon must bind: $finals")
    } finally q.stop()
  }

  test("drift monitor accumulates across triggers and converges onto the cumulative KL") {
    // Two triggers of delta grams for one language: the second reading must
    // be computed from the CUMULATIVE histogram (n = 4), not a per-trigger
    // reset (n = 2) — and must equal the closed-form KL of all four grams.
    import graft.streaming.Streams.{DriftIn, driftStateful}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val scMap = Map(("en", "aa") -> 6L, ("en", "bb") -> 2L)
    val stMap = Map("en" -> 8L)
    def expectedKl(counts: Map[String, Long]): Double = {
      val n = counts.values.sum
      val scaled = (0 until 256).map(i => f"$i%02x").map { b =>
        val dc = counts.getOrElse(b, 0L)
        val lq = math.floor(math.log((dc + 1).toDouble / (n + 256)) * 1e6 + 0.5).toLong
        val lp = math.floor(math.log((scMap.getOrElse(("en", b), 0L) + 1).toDouble / (8L + 256)) * 1e6 + 0.5).toLong
        (dc + 1) * (lq - lp)
      }.sum
      math.floor(scaled.toDouble / 1e6 / (n + 256) * 1e4 + 0.5) / 1e4
    }
    val mem = MemoryStream[DriftIn]
    val q = driftStateful(mem.toDS(), scMap, stMap).toDF().writeStream
      .format("memory").queryName("drift_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(DriftIn("en", "aa"), DriftIn("en", "aa"))
      q.processAllAvailable()
      mem.addData(DriftIn("en", "bb"), DriftIn("en", "cc"),
                  DriftIn("xx", "aa")) // no settled model → no reading
      q.processAllAvailable()
      val rows = spark.table("drift_test").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(
        ("en", 2L, expectedKl(Map("aa" -> 2L))),
        ("en", 4L, expectedKl(Map("aa" -> 2L, "bb" -> 1L, "cc" -> 1L)))),
        s"got $rows")
    } finally q.stop()
  }

  test("streaming packing offsets continue across micro-batches") {
    // A language's token offset must carry over the trigger boundary: doc 3
    // arrives in batch 2 and lands at offset 200 (not 0), crossing into
    // chunk 1 — the online manifest EXTENDS, never restarts.
    import graft.streaming.Streams.DocTok
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[DocTok]
    val out = mem.toDS().groupByKey(_.lang)
      .flatMapGroupsWithState[Long, graft.streaming.Streams.PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[DocTok], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val outs = it.toSeq.sortBy(_.doc_id).map { d =>
            val mine = off; off += d.n_tok
            graft.streaming.Streams.PackOut(d.doc_id, d.lang, mine, mine / 128L)
          }
          state.update(off); outs.iterator
      }
    val q = out.toDF().writeStream.format("memory").queryName("pack_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(DocTok(1L, "en", 120L), DocTok(2L, "en", 80L))
      q.processAllAvailable()
      mem.addData(DocTok(3L, "en", 50L), DocTok(4L, "de", 10L))
      q.processAllAvailable()
      val rows = spark.table("pack_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows == Set((1L, "en", 0L, 0L), (2L, "en", 120L, 0L),
                         (3L, "en", 200L, 1L), (4L, "de", 0L, 0L)))
    } finally q.stop()
  }

  test("index ingest runs with ZERO state operators (x34 statelessness is structural)") {
    // x34's scale contract is "no state store, no watermark, no shuffle —
    // scales with arrival rate alone". Assert it on the RUNNING query's
    // progress instead of trusting the scaladoc: the frozen-index encode
    // must plan as a pure stateless projection.
    val dir = "/root/testdata/sf0.001"
    val q = graft.streaming.Streams.x34Encode(spark, dir)(
        graft.streaming.Streams.embStream(spark, dir))
      .writeStream.format("memory").queryName(s"x34_stateless_${System.nanoTime()}")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress
    assert(progress.nonEmpty, "query made no progress")
    assert(progress.forall(_.stateOperators.isEmpty),
      s"state operators appeared in a stateless ingest: " +
        progress.flatMap(_.stateOperators.map(_.operatorName)).mkString(","))
  }

  test("global signature state carries across micro-batches (x35 continuity)") {
    // Two short comment-like events in trigger 1 seed the conditional
    // length mean; the long event in trigger 2 is abnormal ONLY against
    // that carried state (47 > 2 x (7+7+47)/3) -- against its own trigger
    // alone its mean is 47 and nothing would be flagged. One flagged row
    // with reasons = 2 is therefore proof the signature survived the
    // batch boundary.
    import graft.streaming.Streams.{FEv, signatureStateful}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[FEv]
    val q = signatureStateful(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("sig_test").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(FEv(1L, 1L, 1000000L, 0.0, "click", "1"),
                  FEv(2L, 2L, 2000000L, 0.0, "click", "1"))
      q.processAllAvailable()
      mem.addData(FEv(3L, 3L, 3000000L, 0.0, "click", "1" + "a" * 40))
      q.processAllAvailable()
      val rows = spark.table("sig_test").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getInt(7))).toSet
      assert(rows == Set((3L, 47L, 2)),
        s"only the long event, flagged on the carried length mean: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("x33 boundary: an event exactly at the watermark stays buffered and folds in order") {
    // Pins the round-8 strict-< boundary semantics: a click with
    // t == watermark is NOT finalized (it stays in the reorder buffer,
    // though the per-trigger estimate still folds it), and when a
    // same-timestamp smaller-tag view shows up in the next trigger the
    // reunited pair folds in (t, tag, event_id) order -- the view lands
    // BEFORE the click it qualifies, so the conversion counts. Early
    // (<=) finalization would have folded the click first and lost the
    // conversion permanently.
    import graft.streaming.Streams.{FunBufEv, FunBufState, funnelBufferedFold}
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val T = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ev(id: Long, tUs: Long, tag: Int) = FunBufEv(7L, id, T, tUs, tag)
    // trigger 1: watermark at 1 000 000 us; the click sits EXACTLY on it
    val st1 = TestGroupState.create[FunBufState](Optional.empty(),
      GroupStateTimeout.NoTimeout(), 0L, Optional.of(1000L), false)
    val out1 = funnelBufferedFold(7L, Iterator(ev(2L, 1000000L, 1)), st1).toList
    assert(st1.get.nFin == 0L && st1.get.buf.map(_.event_id) == List(2L),
      s"equality-boundary event must stay buffered: ${st1.get}")
    assert(out1.head.n_seen == 1L && out1.head.n_step2 == 0L,
      "estimate folds the held click (no qualifying view yet)")
    // trigger 2: a same-timestamp view arrives; watermark moves past t
    val st2 = TestGroupState.create[FunBufState](Optional.of(st1.get),
      GroupStateTimeout.NoTimeout(), 0L, Optional.of(2000L), false)
    val out2 = funnelBufferedFold(7L, Iterator(ev(1L, 1000000L, 0)), st2).toList
    assert(st2.get.nFin == 2L && st2.get.buf.isEmpty, s"both finalize: ${st2.get}")
    assert(st2.get.nS2 == 1L && out2.head.n_step2 == 1L,
      "the same-timestamp view must fold BEFORE the boundary click")
  }

  test("media ingest tiers classify at landing; digest first-arrival carries across triggers (x36)") {
    import graft.streaming.Streams.{MediaCand, mediaIngestStateful}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[MediaCand]
    val q = mediaIngestStateful(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("media_test").outputMode(OutputMode.Append()).start()
    try {
      // trigger 1: doc 10 exact-matches settled 3; doc 20 lands a new
      // digest with two settled perceptual partners (min cand_id wins,
      // m9's rule -- NOT min hamming); doc 30's only candidate fails the
      // Hamming gate
      mem.addData(
        MediaCand(10L, "hA", Some(3L), None, None),
        MediaCand(20L, "hB", None, Some(9L), Some(1L)),
        MediaCand(20L, "hB", None, Some(7L), Some(2L)),
        MediaCand(30L, "hC", None, Some(8L), Some(9L)))
      q.processAllAvailable()
      // trigger 2: doc 40 repeats doc 20's digest -> dup_in_delta(20)
      // (the digest-level first-arrival slot carried across the batch
      // boundary and beats the perceptual tier); doc 50 repeats the
      // settled digest -> exact base tier still wins
      mem.addData(
        MediaCand(40L, "hB", None, None, None),
        MediaCand(50L, "hA", Some(3L), None, None))
      q.processAllAvailable()
      val rows = spark.table("media_test").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
      assert(rows(10L) == (("dup_of_base", Some(3L), None)), rows(10L).toString)
      assert(rows(20L) == (("neardup_of_base", Some(7L), Some(2L))), rows(20L).toString)
      assert(rows(30L) == (("unique", None, None)), rows(30L).toString)
      assert(rows(40L) == (("dup_in_delta", Some(20L), None)), rows(40L).toString)
      assert(rows(50L) == (("dup_of_base", Some(3L), None)), rows(50L).toString)
    } finally q.stop()
  }

  test("media ingest plans exactly ONE state operator (x36 structure)") {
    // x36's scale contract: all corpus-sized work is stream-static joins
    // and per-row expressions; the only state is the per-digest
    // first-arrival slot. Assert it on the running query's progress.
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    val q = Streams.mediaIngestStateful(Streams.x36Cands(spark, dir)).toDF()
      .writeStream.format("memory")
      .queryName(s"x36_struct_${System.nanoTime()}")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName)).distinct
    assert(ops.toSeq == Seq("flatMapGroupsWithState"),
      s"expected exactly the first-arrival FMGWS state operator: ${ops.mkString(",")}")
  }

  test("online decontam matches the batch relation; ONE state operator (x37)") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    val name = s"x37_struct_${System.nanoTime()}"
    val q = Streams.x37Out(spark, dir).toDF()
      .writeStream.format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // structure: the bloom probe is a frozen literal and the verify join is
    // stream-static — the per-pair gather is the ONLY stateful operator
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName)).distinct
    assert(ops.toSeq == Seq("flatMapGroupsWithState"),
      s"expected exactly the in-trigger-gather FMGWS operator: ${ops.mkString(",")}")
    // final-value fidelity: identical rows to t14's batch contamination
    val online = spark.table(name)
      .orderBy("train_doc", "eval_doc").collect().toSeq
    val batch = graft.queries.TextAnalysis.t14_contamination(spark, dir)
      .collect().toSeq
    assert(online == batch, "x37 must replay to t14's exact relation")
  }

  test("online release admission: ONE state operator; two-sided delegation gap vs c15 pinned (x39)") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    val name = s"x39_struct_${System.nanoTime()}"
    val q = Streams.x39Out(spark, dir).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // structure: stats are per-row expressions, both probes stream-static
    // equi-joins — the per-doc verdict gather is the ONLY stateful operator
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName)).distinct
    assert(ops.toSeq == Seq("flatMapGroupsWithState"),
      s"expected exactly the verdict-gather FMGWS operator: ${ops.mkString(",")}")
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // exactly one verdict per arriving delta doc
    val deltaDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0).count()
    assert(out.length.toLong == deltaDocs)
    val admits = out.filter(_._2 == "admit").map(_._1).toSet
    // the delegation contract, checked from BOTH sides against c15's fold:
    val adds = graft.queries.Pipeline.c15_manifest_increment(spark, dir)
      .filter(col("action") === "add")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1. a c15 add the gate rejected can only be blocked by the EXACT-digest
    //    tier (the tier x39 gates earlier than c15's near-dup components)
    val dig = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val settledDigs = dig.collect { case (id, h) if id % 10 != 0 => h }.toSet
    for (id <- adds -- admits)
      assert(settledDigs(dig(id)),
        s"c15 add $id rejected online without a settled digest partner")
    // 2. an online admit c15 refuses can only be a near-dup non-representative
    //    (the tier x39 delegates to the nightly fold)
    val cluster = graft.queries.Dedup.d8_dup_clusters(spark, dir)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- admits -- adds)
      assert(cluster.get(id).exists(_ != id),
        s"online admit $id missing from c15 adds without a near-dup blocker")
  }

  test("online quality gate scores bit-equal to the batch classifier; ONE state operator (x40)") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    val name = s"x40_struct_${System.nanoTime()}"
    val q = Streams.x40Out(spark, dir).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // structure: weights are a stream-static join, bias/τ frozen literals —
    // the per-doc margin gather is the ONLY stateful operator
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName)).distinct
    assert(ops.toSeq == Seq("flatMapGroupsWithState"),
      s"expected exactly the margin-gather FMGWS operator: ${ops.mkString(",")}")
    // final-value fidelity: identical rows to the batch trained gate —
    // the in-gather decimal mirror must be bit-exact, not approximately so
    val online = spark.table(name).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.queries.Pipeline.c14_quality_classifier(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(online == batch, "x40 must replay to c14's exact relation")
  }

  test("online shard placement: ONE state operator; stage rule + tail continuation pinned (x41)") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    val name = s"x41_struct_${System.nanoTime()}"
    val q = Streams.x41Out(spark, dir).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // structure: scoring, stage, and tail base are all per-row expressions
    // over frozen literals — the per-stage running offset is the ONLY
    // stateful operator
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName)).distinct
    assert(ops.toSeq == Seq("flatMapGroupsWithState"),
      s"expected exactly the running-offset FMGWS operator: ${ops.mkString(",")}")
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // the shipped curriculum: per-doc stage, per-stage boundaries + tails
    val cur = graft.queries.Pipeline.c17_curriculum(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        math.floor(r.getDouble(4) * 1000000.0 + 0.5).toLong))
    val minSi = cur.groupBy(_._2).view.mapValues(_.map(_._4).min).toMap
    val tails = cur.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // stage rule: a doc ALSO in the shipped curriculum must agree with its
    // batch stage unless its score sits exactly on a boundary tie (the one
    // stated divergence — c17 splits si-ties by rank, the door cannot)
    val batchStage = cur.map(d => d._1 -> d._2).toMap
    val batchSi = cur.map(d => d._1 -> d._4).toMap
    for ((id, st, _, _) <- out if batchStage.contains(id)) {
      val boundaryTie = minSi.exists { case (_, m) => m == batchSi(id) }
      assert(st == batchStage(id) || boundaryTie,
        s"doc $id placed in stage $st vs batch ${batchStage(id)} off-boundary")
    }
    // tail continuation: within each stage, offsets start at the shipped
    // stage total and advance contiguously by token count in doc_id order
    val ntok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((st, rows) <- out.groupBy(_._2)) {
      val ordered = rows.sortBy(_._1)
      var expect = tails.getOrElse(st, 0L)
      for ((id, _, off, shard) <- ordered) {
        assert(off == expect, s"stage $st doc $id off $off != expected $expect")
        assert(shard == off / 128L)
        expect += ntok(id)
      }
    }
  }

  test("stage-skew monitor agrees with the placement query's stage mix (x42 = x41 counts)") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    // x42's arrival counts must be exactly the per-stage cardinalities of
    // x41's placement output — one scorer, one stage rule, two consumers
    val skew = Streams.x42_stream_stage_skew(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(skew.nonEmpty)
    val placed = Streams.x41_stream_shard_placement(spark, dir)
      .collect().map(_.getLong(1))
    val byStage = placed.groupBy(identity).view.mapValues(_.length.toLong).toMap
    for ((st, nArr, _, _, _, _) <- skew)
      assert(nArr == byStage.getOrElse(st, 0L),
        s"stage $st: monitor says $nArr arrivals, placement has ${byStage.getOrElse(st, 0L)}")
    // every shipped stage is present (zero-arrival stages included), and
    // the shares are partitions of 1 on the round4 grid (±10 ulp slack
    // for the per-row rounding)
    val shipped = graft.queries.Pipeline.c17_stage_budget(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(skew.map(_._1).toSet == shipped)
    assert(math.abs(skew.map(_._4).sum - 1.0) < 0.002)
    assert(math.abs(skew.map(_._5).sum - 1.0) < 0.002)
    // skew rows are self-consistent: skew = round4(arrived - shipped)
    for ((_, _, _, a, s, k) <- skew)
      assert(k == math.floor((a - s) * 10000.0 + 0.5) / 10000.0)
  }

  test("online SQ8 serve equals the batch depth-∞ serve; frozen-artifact routing (x38)") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.Streams
    val S = graft.queries.Similarity
    val online = Streams.x38_stream_sq8_serve(spark, dir)
      .collect().map(_.toSeq).toSeq
    // exact-by-construction twin: the batch trained-router serve with the
    // shortlist depth at corpus scale (the posture x38's scaladoc states).
    // Sq8DepthUnbounded is the SAME constant the registered oracle splices
    // (round-11 advice: twin and oracle must share one depth sentinel).
    // Byte-cost posture, priced: because depth-∞ ranks by exact cosine,
    // the online scan reads raw f32 + norms alongside the int8 codes
    // (~5/4 of float32 bytes per candidate vs the batch serve's 1/4);
    // candidate COUNT stays cell-pruned at p·N/k.
    val batch = S.ivfSq8Served(spark, dir, S.ServingNprobe, S.Sq8DepthUnbounded)
      .collect().map(_.toSeq).toSeq
    assert(online.nonEmpty)
    assert(online == batch,
      "x38 must serve the exact top-5 of the probed trained cells")
    // and on this corpus the stated delegation is measured-closed: the
    // depth-∞ online answer coincides with s22's d50 batch serve (s23's
    // grid result, re-pinned at the serving operator itself)
    val s22 = S.s22_ivf_sq8(spark, dir).collect().map(_.toSeq).toSeq
    assert(online == s22,
      "depth-∞ online serve diverged from the d50 batch serve on this corpus")
  }

  test("one serving generation: x26 pinned to s3's retired router, x38 rides the trained one") {
    // Round-11 verdict #3: the engine must not ship two online ANN serves
    // with silently different router generations. Resolution (posture, not
    // a new operator — a trained-router exact-scan twin would duplicate
    // x38, which already ranks the probed trained cells by exact cosine):
    // x26 is s3's HISTORICAL twin, deliberately pinned to the label router
    // s24 retired from serving (the way s21/s23 keep grading it as
    // measured history); x38 is THE serving-posture online path.
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val S = graft.queries.Similarity
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id").cast("long"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
    // the historical contract: x26's served cells ARE s3's label cells
    val x26Cells = cells(graft.streaming.Streams.x26_stream_ann_topk(spark, dir))
    assert(x26Cells == cells(S.s3_ivf_topk(spark, dir)),
      "x26 must stay bit-pinned to s3's label-router serving")
    // the serving contract: x38's served cells are s22's trained-router
    // cells (the round-11 decision, online)
    val x38Cells = cells(graft.streaming.Streams.x38_stream_sq8_serve(spark, dir))
    assert(x38Cells == cells(S.s22_ivf_sq8(spark, dir)),
      "x38 must serve s22's trained-router cells")
    // and the two generations are genuinely different routers: the trained
    // assignment PARTITIONS the corpus differently than the labels do
    // (cluster/label ids are different id spaces, so compare the induced
    // partitions as sets of vec_id sets) — if these coincided, the round-11
    // router swap would be vacuous and s24's 2× delta impossible
    val byLabel = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long"), col("label").cast("long"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    val byCluster = S.sq8TrainedAssign(spark, dir)
      .select(col("vec_id").cast("long"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(byLabel != byCluster,
      "trained router partition coincides with the label partition — not a generation change")
  }

  test("x37 counts DISTINCT shared grams under repeats; sketch sizing is c9's knob") {
    import graft.streaming.Streams
    // engineered corpus: the eval doc (id % 100 == 0) REPEATS a shared
    // trigram, and so does the train doc — the case the natural corpora
    // never exercise (round-10 advice, high): without the static-side
    // dedup the in-trigger gather counts one row per eval OCCURRENCE and
    // n_shared would read 4 where t14's count(DISTINCT gram) reads 3
    val tmp = java.nio.file.Files.createTempDirectory("graft_x37_grams_").toString
    Seq((100L, "a b c a b c x y z"), // eval: "a b c" appears twice
        (1L,   "a b c a b c q"))     // train: shares {a b c, b c a, c a b}
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    def gate(): Seq[(Long, Long, Long)] =
      Streams.x37Gate(spark, tmp)(Tables.documents(spark, tmp))
        .collect().map(o => (o.train_doc, o.eval_doc, o.n_shared)).toSeq
    assert(gate() == Seq((1L, 100L, 3L)),
      "n_shared must be count(DISTINCT gram) when the eval doc repeats a gram")
    // the batch relation agrees on the SAME repeated-gram corpus — the
    // shared-oracle contract holds on ordinary text, not just dedup-free text
    val batch = graft.queries.TextAnalysis.t14_contamination(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch == Seq((1L, 100L, 3L)))
    // one sizing source, both gates: the frozen sketch reads the c9 conf
    // knobs (the serialized bloom tracks the bits knob), and exactness is
    // sizing-INDEPENDENT — a tiny high-FP bloom still replays t14's exact
    // relation because survivors exact-verify through the gram join
    val ev = graft.queries.TextAnalysis.docGramsStr(spark, tmp, 3)
      .filter(col("doc_id") % 100 === 0)
      .select(col("gram"), col("doc_id").as("eval_doc")).distinct()
    val defaultSketch = Streams.decontamSketch(spark, ev)
    spark.conf.set("spark.graft.bloomDecontamItems", "64")
    spark.conf.set("spark.graft.bloomDecontamBits", "512")
    try {
      assert(graft.queries.Pipeline.bloomDecontamSizing(spark) == ((64L, 512L)))
      val small = Streams.decontamSketch(spark, ev)
      assert(small.length < defaultSketch.length,
        "x37's sketch must track the shared bloomDecontam sizing knobs")
      assert(gate() == Seq((1L, 100L, 3L)),
        "gate correctness must be independent of the bloom sizing")
    } finally {
      spark.conf.unset("spark.graft.bloomDecontamItems")
      spark.conf.unset("spark.graft.bloomDecontamBits")
    }
  }
}
