package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query timed at the given scale factor.
  *
  * Each query is timed three times and the per-query median of the
  * successful runs is reported, since a single timing can carry a one-off
  * GC or JIT pause. When the three timings spread more than 3×, one
  * contended run can steer the median, so two extra runs are taken and the
  * reported value becomes the minimum of the successful runs: the
  * uncontended cost. The max/min spread per query is still recorded so
  * the contention stays visible. The staging registry
  * (`QUtil.stage`) is cleared before every timed run so each measurement
  * is a cold, self-contained cost.
  *
  * Artifact shape: the FULL per-query JSON goes to
  * `target/bench_<sf>.json` (and `bench/` on full runs); the last stdout
  * line is ONE compact line (headline total + the most expensive queries,
  * capped at 1800 bytes) for readers that parse a bounded log tail.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Recycle the JVM's accumulated execution state between the streaming
    * x-block and the batch sweep. Without it the x-block's block-manager
    * and heap pressure inflates the first batch queries behind it. The
    * batch sweep starts from the same clean-JVM state an isolated run
    * uses: drop every persisted block (cleared caches leave
    * orphaned localCheckpoint blocks), unload the streaming state-store
    * providers and their maintenance thread (HDFS provider maps + RocksDB
    * JNI handles held since the x-block), clear the SQL cache, and force
    * a full GC so the first batch query is not collecting the x-block's
    * tenured garbage inside its timing. */
  private def recycleExecutorState(spark: SparkSession): Unit = {
    queries.QUtil.clearStaged()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] state-store unload failed: ${e.getMessage}")
    }
    System.gc()
    Thread.sleep(500)
    System.gc()
  }

  /** Which artifact directories a run may write. A cold SPARK_GRAFT_ONLY
    * subset run is an experiment and must not clobber the committed
    * full-surface map in bench/; full runs and KEEP_SHARED serving runs
    * (whose _warm artifact is by design a curated subset) refresh both.
    * Pure so the routing decision is spec-pinned (`QueriesSmokeSpec`). */
  private[graft] def artifactDirs(subsetRun: Boolean,
                                  keepShared: Boolean): Seq[String] =
    if (!subsetRun || keepShared) Seq("target", "bench") else Seq("target")

  /** Which normalization scalar a query's timing is read against, emitted
    * per query into the artifact as `class`:
    *   - `stream`: micro-batch queries (the x-block) — scheduling-latency
    *     bound; read against `calib_stream`'s window ratio. x41/x42 also
    *     pay the settled audit chain cold, but their drift across windows
    *     has always tracked the streaming scalar, so they stay here;
    *   - `audit-chain`: batch queries whose cost is dominated by the
    *     staged release-funnel chain paid cold per bench-isolation policy
    *     (c14 GD training + settled manifest/curriculum staging) —
    *     genuinely compute-bound, read against `calib`;
    *   - `batch`: everything else — scan/shuffle-bound, read raw first,
    *     `calib` second.
    * Pure so the tagging is spec-pinned (`QueriesSmokeSpec`). */
  private[graft] def queryClass(name: String): String =
    if (name.startsWith("x")) "stream"
    else if (Seq("c14_", "c15_", "c16_", "c17_", "c18_", "c19_", "c20_")
               .exists(name.startsWith)) "audit-chain"
    else "batch"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CONF sets session confs for experiments (Session.fromEnv)
    val spark = Session.fromEnv()
    val cpus = spark.sparkContext.defaultParallelism
    // optional knobs for one-off experiments (default runs leave them unset):
    // SPARK_GRAFT_ONLY=q1,q2 filters the query set; SPARK_GRAFT_RUNS=1 runs
    // each query once, for full-surface sweeps at large scale where
    // per-query medians would triple a multi-hour run
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // untimed warmup: JVM/codegen/parquet-footer caches
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).count()
    Tables.events(spark, sfDir).count()
    // ... and the STREAMING machinery: with the x-block fronted (see the
    // sort key below), the first timed query would otherwise pay the
    // one-time streaming costs — micro-batch execution codegen, the HDFS
    // state-store provider, and the RocksDB provider's JNI load — that
    // the old alphabetical order buried mid-sweep (first observed when
    // fronting moved x10 from 4.2 s to 20.3 s: all of it first-query
    // init, none of it x10). One cheap FMGWS query + one cheap
    // TWS/RocksDB query cover both provider stacks; failures are
    // non-fatal (a warmup must never kill the sweep).
    // NonFatal only: a fatal JVM error (OOM, LinkageError) here means the
    // JVM is corrupted — exactly the state this warmup exists to keep out
    // of the timed sweep — so it must abort the run, not be swallowed
    try {
      graft.streaming.Streams.x19_stream_admission(spark, sfDir).count()
      graft.streaming.Streams.x21_tws_admission(spark, sfDir).count()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] streaming warmup failed: ${e.getMessage}")
    }
    // MACHINE-WINDOW CALIBRATION: a fixed, deterministic, CPU-bound job —
    // SF-independent, no I/O after codegen — timed 3×, min reported as
    // "calib" in the artifact. Two full benches of identical code can
    // differ by ~1.2× across machine windows on a VM, where host-level
    // contention is invisible to guest load. The calib scalar moves with the
    // window, not the engine, so two artifacts compare like-for-like via
    // their calib ratio before any per-query delta is read as real.
    val calib = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(400000000L)
        .selectExpr("sum(pmod(xxhash64(cast(id as string)), 1000000000))")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // STREAMING-BOUND CALIBRATION TWIN: the CPU-bound calib cannot
    // normalize streaming rows, whose time drifts across windows at equal
    // calib. The drifting quantity is MICRO-BATCH SCHEDULING LATENCY (trigger
    // planning, state-store commits, sink bookkeeping), orthogonal to
    // CPU throughput. calib_stream times a fixed, deterministic, no-op
    // FMGWS query, started through the x-block's runner
    // (`Streams.runToMemory`), over eight one-row files (maxFilesPerTrigger=1 → eight
    // micro-batches; compute is nil, so per-trigger scheduling cost is
    // the whole number) 3×, min reported — streaming deltas are read
    // against THIS scalar's window ratio, batch deltas against calib's.
    val calibStream = {
      import org.apache.spark.sql.streaming.{OutputMode, GroupStateTimeout}
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_calib_stream")
      val streamDir = base.resolve("stream")
      java.nio.file.Files.createDirectories(streamDir)
      for (i <- 0 until 8)
        graft.streaming.Streams.writeOneFile(spark.range(i.toLong, i.toLong + 1L).toDF(),
          streamDir.resolve(f"$i%02d_chunk.parquet"), "parquet")
      val schema = spark.read.parquet(streamDir.toString).schema
      def run(): Double = {
        val t0 = System.nanoTime()
        val out = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
          .as[Long]
          .groupByKey(_ % 4L)
          .flatMapGroupsWithState[Long, (Long, Long)](
            OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
            (k: Long, it: Iterator[Long], st: org.apache.spark.sql.streaming.GroupState[Long]) =>
              val n = st.getOption.getOrElse(0L) + it.size
              st.update(n)
              Iterator.single((k, n))
          }
        graft.streaming.Streams.runToMemory(out.toDF("k", "n"), OutputMode.Append(),
          "graft_calib_stream")
        (System.nanoTime() - t0) / 1e9
      }
      val v = (1 to 3).map(_ => run()).min
      // the calibration fixture is ephemeral — delete it, or three runs
      // per bench accumulate one temp tree each in /tmp
      val walk = java.nio.file.Files.walk(base)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
      v
    }
    // SPARK_GRAFT_KEEP_SHARED=1 keeps the staged intermediates
    // (s2Pairs, d3Pairs, bandSigs, …) warm BETWEEN timed runs — the
    // warm-staging study knob (e.g. d13's per-increment marginal cost with
    // the settled band index already materialized); default is cold-cost
    // isolation
    val keepShared = sys.env.get("SPARK_GRAFT_KEEP_SHARED").contains("1")
    def timedRun(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      if (!keepShared) {
        queries.QUtil.clearStaged()
        // clearing the registry drops the REFERENCES, but every
        // localCheckpoint's RDD blocks stay in the block manager until GC —
        // across 178 queries × 3 runs the accumulated blocks inflate later
        // queries' timings (heap pressure + block-manager bookkeeping).
        // Cold isolation includes STORAGE: drop the blocks too (after the
        // clear: a staged frame's lineage is truncated, so it cannot
        // recompute lost blocks).
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      val t0 = System.nanoTime()
      // failures must be LOUD in the artifact itself, not just stderr: a
      // swallowed exception otherwise records a near-zero timing that
      // reads as "blazing fast" (how the sf1 symlink bug almost slipped)
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }
    // the streaming x-block runs FIRST: run last in a 200+-query
    // single-JVM sweep, accumulated block-manager/heap pressure inflated it
    // by 2–4×. Fronting it times it in the same clean-JVM state an
    // isolated run uses; batch queries are insensitive to the order (their
    // inputs are re-read parquet, their caches cleared per run either way).
    // Between the x-block and the batch sweep the JVM state is recycled
    // once (recycleExecutorState); per-query pre-run heap is recorded into
    // the artifact so any residual contamination stays attributable
    var xBlockDone = false
    val heapMb = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val timings = SparkEntry.queries.toSeq
      .sortBy { case (name, _) => (if (name.startsWith("x")) 0 else 1, name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      if (!xBlockDone && !name.startsWith("x")) {
        xBlockDone = true
        if (!keepShared) recycleExecutorState(spark)
      }
      val rt = Runtime.getRuntime
      heapMb(name) = (rt.totalMemory() - rt.freeMemory()) / (1024L * 1024L)
      var good = (1 to nRuns).flatMap(_ => timedRun(name, fn))
      // wide spread ⇒ contention contaminated the sample: take two extra
      // measurements, then report the MIN of the good runs — the
      // uncontended cost — instead of a median a contended run can steer
      val contended = good.size >= 2 && good.max / good.min > 3.0
      if (contended) good = good ++ (1 to 2).flatMap(_ => timedRun(name, fn))
      // failed runs are EXCLUDED (a −1 sentinel inside the sort would bias
      // the median toward the fastest good run); −1 only when every run
      // failed, so an all-failed query still reads as failed in the JSON
      val v = if (good.isEmpty) -1.0
              else if (contended) good.min
              else median(good)
      val spread = if (good.size >= 2 && good.min > 0) good.max / good.min else 1.0
      (name, v, spread)
    }
    val results = timings.map { case (n, v, _) => n -> v }.toMap
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val spreads = timings.map { case (n, _, sp) =>
      s"\"" + n + "\":" + f"$sp%.2f" }.mkString("{", ",", "}")
    timings.filter(_._3 > 3.0).foreach { case (n, v, sp) =>
      System.err.println(f"[bench] WARN $n spread ${sp}%.1fx across runs (reporting min $v%.2fs)")
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val heaps = heapMb.map { case (n, v) => s"\"" + n + "\":" + v }
      .mkString("{", ",", "}")
    val classes = timings.map { case (n, _, _) =>
      s"\"" + n + "\":\"" + queryClass(n) + "\"" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","calib":${fmt(calib)},"calib_stream":${fmt(calibStream)},"queries":$qs,"spread":$spreads,"heap_mb":$heaps,"class":$classes,"sf":"$sfDir"}"""
    // full artifact → file (always parses, immune to log-tail truncation).
    // Written to both target/ (build output) and bench/ (committed, the
    // durable record of the full per-query map). Serving-mode runs
    // (KEEP_SHARED: staging kept warm between runs) get their own artifact
    // name, next to the cold artifact instead of clobbering it
    val sfName = new java.io.File(sfDir).getName +
      (if (keepShared) "_warm" else "")
    // clobber guard: see artifactDirs. The full map is also written under
    // a core-count-suffixed name, so a same-sf rerun at another core count
    // does not overwrite it
    for (dirName <- artifactDirs(only.nonEmpty, keepShared);
         suffix <- Seq("", s"_c$cpus")) {
      val out = java.nio.file.Paths.get(s"$dirName/bench_$sfName$suffix.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json + "\n")
    }
    // stdout's last line: the headline plus the most expensive queries
    // that fit in 1800 bytes, so a reader of a 2000-byte log tail gets
    // the line and sbt's trailing `[success]` line whole
    val byCost = results.toSeq.sortBy(-_._2)
    val budget = 1800
    // point at the durable copy when one was written (bench/ is committed;
    // target/ is build output, where only subset experiments stop)
    val fullDir = artifactDirs(only.nonEmpty, keepShared).last
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","calib":${fmt(calib)},"calib_stream":${fmt(calibStream)},"n_queries":${results.size},"full":"$fullDir/bench_$sfName.json","sf":"$sfDir","queries":{"""
    val tailStr = "}}"
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + tailStr.length
    for ((k, v) <- byCost) {
      val e = s"\"$k\":${fmt(v)}"
      val extra = e.length + (if (entries.isEmpty) 0 else 1)
      if (len + extra <= budget) { entries += e; len += extra }
    }
    val compact = head + entries.mkString(",") + tailStr
    // the compact line also lands in a dedicated file, so a reader needs
    // no log-tail parsing past streaming shutdown WARNs
    for (dirName <- artifactDirs(only.nonEmpty, keepShared);
         suffix <- Seq("", s"_c$cpus")) {
      val out = java.nio.file.Paths.get(
        s"$dirName/bench_$sfName${suffix}_summary.json")
      java.nio.file.Files.writeString(out, compact + "\n")
    }
    // the full per-query map into the log (earlier than the tail window —
    // for humans and post-hoc greps; files are the durable copy)
    println(json)
    // stop BEFORE the final line: Spark/streaming shutdown logging then
    // precedes it, so the summary is the last line before sbt's [success]
    spark.stop()
    println(compact)
  }
}
