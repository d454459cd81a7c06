package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, in one JVM.
  *
  * [[SetUps]] set-ups, then timed passes until `--seconds` have gone by, at
  * least [[MinPasses]]. A set-up starts a SparkSession on a stopped context
  * with the program's derived files deleted and runs one pass over the
  * inputs, in which the program derives them again; the first set-up also
  * starts the JVM and warms its JIT. A pass calls the workload's entries of
  * `SparkEntry.queries` in order, one after the other, in its own
  * `newSession()`; each call is timed in two parts, the call itself (eager
  * staging and streaming runs) and materialising the frame it returns.
  * After a pass every cached block is dropped, so no staged artifact
  * outlives it. The outputs of the last pass are written, outside the
  * timing, for the oracle check that `run.py` makes.
  *
  * With `--trace 1` the timed passes alternate between untraced and traced
  * (scheduler and plan listeners on), so both halves see the same warming
  * and the tracing overhead is their difference; then come direct timed
  * calls into the ingest and resolver layers and one pass at `local[1]`.
  * Spans are written to `spans.json`.
  *
  * Results go to `<out>/result.json`; nothing is printed to stdout. */
object Main {
  final case class Args(workload: String, calls: Seq[String], data: String, out: String,
                        seconds: Double, trace: Boolean, launchedMs: Long)

  final case class CallRec(name: String, startMs: Double, eagerEndMs: Double, endMs: Double,
                           error: Option[String])
  final case class Pass(id: Int, phase: String, startMs: Double, endMs: Double,
                        calls: Seq[CallRec], gcMs: Long, jitMs: Long, compiles: Long, stagedMb: Double,
                        liveHeapMb: Double) {
    def wallS: Double = (endMs - startMs) / 1000.0
  }

  val Cpus = 4
  val SetUps = 3
  val MinPasses = 3

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with nanosecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("calls").split(",").toSeq.filter(_.nonEmpty), req("data"), req("out"),
      req("seconds").toDouble, req("trace") == "1", req("launched-ms").toLong)
  }

  def session(cpus: Int): SparkSession = {
    // the session confs of graft.Verify
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val queries = graft.SparkEntry.queries
    a.calls.foreach(c => require(queries.contains(c), s"unknown call $c"))
    Files.createDirectories(Paths.get(a.out))
    new Run(a, queries).execute()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Generated classes compiled so far (Spark's codegen cache misses). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

final class Run(a: Main.Args, queries: Map[String, (SparkSession, String) => DataFrame]) {
  import Main._

  private var spark: SparkSession = _
  private val streams = new StreamProbe
  private val jobs = new JobProbe
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val threw = mutable.LinkedHashMap.empty[String, Int]
  private val written = mutable.ArrayBuffer.empty[String]
  private var nextId = 0
  private def id(): Int = { nextId += 1; nextId }

  /** Runs the calls once in a fresh session. `last` is asked when the
    * calls are done; if it says so, the outputs are written for the oracle
    * before the pass's blocks are dropped. */
  private def pass(phase: String, last: => Boolean): Pass = {
    val s = spark.newSession()
    s.streams.addListener(streams)
    val gc0 = gcMs()
    val jit0 = jitMs()
    val comp0 = compiles()
    val t0 = now()
    val recs = mutable.ArrayBuffer.empty[CallRec]
    val frames = mutable.ArrayBuffer.empty[(String, DataFrame)]
    a.calls.foreach { name =>
      val c0 = now()
      var c1 = c0
      try {
        val df = queries(name)(s, a.data)
        c1 = now()
        df.write.format("noop").mode("overwrite").save()
        recs += CallRec(name, c0, c1, now(), None)
        frames += name -> df
      } catch { case NonFatal(e) =>
        recs += CallRec(name, c0, c1, now(), Some(String.valueOf(e.getMessage)))
      }
    }
    val t1 = now()
    val gc = gcMs() - gc0
    val jit = jitMs() - jit0
    val comp = compiles() - comp0
    PerfbenchBus.drain(spark.sparkContext)
    s.streams.removeListener(streams)
    if (phase == "timed" || phase == "traced")
      recs.filter(_.error.nonEmpty).foreach(r => threw(r.name) = threw.getOrElse(r.name, 0) + 1)
    if (last) writeOutputs(frames.toSeq)
    val sc = spark.sparkContext
    val stagedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    // in a traced run after every pass, so the two halves of a pair start alike
    val heap = if (a.trace) {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    } else 0.0
    val p = Pass(id(), phase, t0, t1, recs.toSeq, gc, jit, comp, stagedMb, heap)
    passes += p
    p
  }

  private def writeOutputs(frames: Seq[(String, DataFrame)]): Unit = {
    frames.foreach { case (name, df) =>
      try {
        df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/calls/$name")
        written += name
      } catch { case NonFatal(_) => threw(name) = threw.getOrElse(name, 0) + 1 }
    }
    val oracle = graft.SparkEntry.oracleSql
    Json.write(s"${a.out}/calls/oracle_sql.json",
      written.filter(oracle.contains).map(n => n -> oracle(n)).toMap)
  }

  /** Timed passes until `seconds` have gone by and at least [[MinPasses]]
    * have run; the outputs of the last one are written. With `alternate`
    * the passes run in pairs of one untraced and one traced pass (the
    * scheduler listener is on for that pass alone), in the order U T, T U,
    * U T, …, so that warming over the run favours neither half. */
  private def timedPasses(alternate: Boolean): Seq[Pass] = {
    val start = now()
    val out = mutable.ArrayBuffer.empty[Pass]
    val step = if (alternate) 2 else 1
    var done = false
    while (!done) {
      val traced = alternate && (out.size % 2 == 1) != (out.size / 2 % 2 == 1)
      if (traced) spark.sparkContext.addSparkListener(jobs)
      out += pass(if (traced) "traced" else "timed", {
        done = (out.size + 1) % step == 0 && (out.size + 1) / step >= MinPasses &&
          now() - start >= a.seconds * 1000
        done
      })
      if (traced) spark.sparkContext.removeSparkListener(jobs)
    }
    out.toSeq
  }

  /** Stops the running context, if any, deletes the files the program
    * derives from the inputs, starts a SparkSession and runs one pass;
    * returns the seconds from `fromMs` to its end. */
  private def setUp(fromMs: Double): Double = {
    if (spark != null) spark.stop()
    deleteDerived()
    spark = session(Cpus)
    (pass("setup", false).endMs - fromMs) / 1000.0
  }

  /** Where `graft.streaming.Streams` derives files from an input directory. */
  private def deleteDerived(): Unit = {
    val dir = Paths.get("/tmp/graft_stream", a.data.replaceAll("[^A-Za-z0-9.]", "_"))
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  def execute(): Unit = {
    val setups = (1 to SetUps).map(i => setUp(if (i == 1) a.launchedMs.toDouble else now()))
    val ps = timedPasses(alternate = a.trace)
    val timed = ps.filter(_.phase == "timed")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "setups_s" -> setups)
    result("end_to_end") = endToEnd(timed, median(setups))
    result("calls_s") = perCall(timed)
    if (a.trace) {
      val traced = ps.filter(_.phase == "traced")
      val layers = mutable.LinkedHashMap[String, Double]()
      layers ++= perLayer(traced)
      layers("trace.overhead") =
        median(traced.map(_.wallS)) / median(timed.map(_.wallS)) - 1.0
      spark.sparkContext.addSparkListener(jobs)
      layers ++= Direct.measure(spark, a.data, s"${a.out}/direct", jobs, () => now())
      spark.sparkContext.removeSparkListener(jobs)
      spark.stop()
      spark = session(1)
      val one = pass("local1", false)
      layers("spark.speedup_4v1") = one.wallS / median(timed.map(_.wallS))
      result("per_layer") = layers
      result("traced_calls_s") = perCall(traced)
      Json.write(s"${a.out}/spans.json", spans(traced).map(s => Map("id" -> s.id,
        "parent" -> s.parent, "pass" -> s.pass, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    }
    result("passes") = passes.map(p => Map("phase" -> p.phase, "wall_s" -> p.wallS,
      "gc_s" -> p.gcMs / 1000.0, "jit_s" -> p.jitMs / 1000.0, "compiles" -> p.compiles,
      "calls" -> p.calls.map(c => Map("name" -> c.name, "eager_s" -> (c.eagerEndMs - c.startMs) / 1000,
        "lazy_s" -> (c.endMs - c.eagerEndMs) / 1000, "error" -> c.error.getOrElse(""))))).toSeq
    result("attempted") = ps.size * a.calls.size
    result("threw") = threw.toMap
    result("written") = written.toSeq
    Json.write(s"${a.out}/result.json", result.toMap)
    spark.stop()
  }

  private def perCall(ps: Seq[Pass]): Map[String, Double] =
    a.calls.map(n => n -> median(ps.flatMap(_.calls.filter(_.name == n).map(c => (c.endMs - c.startMs) / 1000)))).toMap

  /** The stream figures pool the micro-batches of all timed passes: a
    * pass of a workload may hold only two or three of them. */
  private def endToEnd(ps: Seq[Pass], setupS: Double): Map[String, Any] = {
    val bs = ps.flatMap(p => streams.in(p.startMs, p.endMs))
    val triggerS = bs.map(_.triggerMs).sum / 1000.0
    Map("setup_s" -> setupS, "wall_s" -> median(ps.map(_.wallS)),
      "stream_rows_per_s" -> (if (triggerS > 0) bs.map(_.rows).sum / triggerS else 0.0),
      "trigger_ms_p50" -> median(bs.map(_.triggerMs.toDouble)),
      "passes" -> ps.size)
  }

  /** Per-layer figures of each traced pass, then the median over passes. */
  private def perLayer(ps: Seq[Pass]): Map[String, Double] = {
    val perPass = ps.map { p =>
      val lo = p.startMs; val hi = p.endMs
      val js = jobs.jobs.asScala.filter(j => j.startMs >= lo && j.startMs <= hi).toSeq
      val jobIds = js.map(_.id).toSet
      val ss = jobs.stages.asScala.filter(s => jobIds.contains(s.jobId)).toSeq
      val ts = jobs.tasks.asScala.filter(t => t.launchMs >= lo && t.launchMs <= hi).toSeq
      val qs = jobs.sqls.asScala.filter(q => q.timeMs >= lo && q.timeMs <= hi).toSeq
      val bs = streams.in(lo, hi)
      val taskS = ts.map(_.runMs).sum / 1000.0
      val skew = ss.filter(_.taskMs.nonEmpty).map { s =>
        val m = median(s.taskMs.map(_.toDouble)); if (m > 0) s.taskMs.max / m else 1.0 }
      val self = Trace.selfSeconds(spansOf(p))
      Map(
        "spark.jobs" -> js.size.toDouble, "spark.stages" -> ss.size.toDouble,
        "spark.tasks" -> ts.size.toDouble, "spark.task_s" -> taskS,
        "spark.busy_ratio" -> taskS / (p.wallS * Cpus),
        "spark.idle_s" -> (p.endMs - p.startMs -
          Trace.covered(lo, hi, ts.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)))) / 1000,
        "spark.shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1048576.0,
        "spark.spill_mb" -> ts.map(_.spillBytes).sum / 1048576.0,
        "spark.task_skew" -> median(skew),
        "plans.sql_executions" -> qs.size.toDouble,
        "plans.fallback_exprs" -> qs.map(_.fallbacks).sum.toDouble,
        "plans.unresolved_executions" -> qs.count(!_.resolved).toDouble,
        "plans.codegen_compiles" -> p.compiles.toDouble,
        "calls.eager_s" -> p.calls.map(c => c.eagerEndMs - c.startMs).sum / 1000,
        "calls.lazy_s" -> p.calls.map(c => c.endMs - c.eagerEndMs).sum / 1000,
        "staging.checkpoints" -> qs.count(q =>
          q.description.startsWith("localCheckpoint at") || q.description.startsWith("checkpoint at")).toDouble,
        "staging.cached_mb" -> p.stagedMb,
        "streams.triggers" -> bs.size.toDouble,
        "streams.trigger_ms_max" -> (if (bs.isEmpty) 0.0 else bs.map(_.triggerMs).max.toDouble),
        // the per-trigger floor; without near-empty batches, the fastest one
        "streams.idle_trigger_ms" -> {
          val idle = bs.filter(_.rows <= 1).map(_.triggerMs.toDouble)
          if (idle.nonEmpty) median(idle) else bs.map(_.triggerMs.toDouble).minOption.getOrElse(0.0)
        },
        "streams.planning_ms" -> bs.map(_.phasesMs.getOrElse("queryPlanning", 0L)).sum.toDouble,
        "streams.add_batch_ms" -> bs.map(_.phasesMs.getOrElse("addBatch", 0L)).sum.toDouble,
        "streams.commit_ms" -> bs.map(b => b.phasesMs.getOrElse("walCommit", 0L) +
          b.phasesMs.getOrElse("commitOffsets", 0L)).sum.toDouble,
        "streams.state_rows_max" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble),
        "streams.state_mb_max" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateBytes).max / 1048576.0),
        "streams.watermark_dropped_rows" -> bs.map(_.droppedRows).sum.toDouble,
        "jvm.gc_s" -> p.gcMs / 1000.0,
        "jvm.jit_s" -> p.jitMs / 1000.0,
        "jvm.live_heap_mb" -> p.liveHeapMb,
        "self.pass_s" -> self.getOrElse("pass", 0.0),
        "self.call_s" -> (self.getOrElse("eager", 0.0) + self.getOrElse("lazy", 0.0)),
        "self.microbatch_s" -> self.getOrElse("microbatch", 0.0),
        "self.job_s" -> self.getOrElse("job", 0.0),
        "self.stage_s" -> self.getOrElse("stage", 0.0))
    }
    perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
  }

  private val spanCache = mutable.Map.empty[Int, Seq[Span]]
  private def spans(ps: Seq[Pass]): Seq[Span] = ps.flatMap(spansOf)

  /** pass -> call -> eager/lazy -> micro-batch -> job -> stage. A span's
    * parent is the innermost span of the pass that contains its start. */
  private def spansOf(p: Pass): Seq[Span] = spanCache.getOrElseUpdate(p.id, {
    val out = mutable.ArrayBuffer.empty[Span]
    val root = Span(id(), 0, p.id, "pass", p.phase, p.startMs, p.endMs)
    out += root
    val parts = p.calls.flatMap { c =>
      val call = Span(id(), root.id, p.id, "call", c.name, c.startMs, c.endMs)
      out += call
      Seq(Span(id(), call.id, p.id, "eager", c.name, c.startMs, c.eagerEndMs),
          Span(id(), call.id, p.id, "lazy", c.name, c.eagerEndMs, c.endMs))
    }
    out ++= parts
    def within(ss: Seq[Span], t: Double) = ss.find(_.contains(t))
    val batches = streams.in(p.startMs, p.endMs).map { b =>
      Span(id(), within(parts, b.startMs).getOrElse(root).id, p.id, "microbatch", "", b.startMs, b.endMs)
    }
    out ++= batches
    val jobSpans = jobs.jobs.asScala.filter(j => p.startMs <= j.startMs && j.startMs <= p.endMs).toSeq.map { j =>
      val parent = within(batches, j.startMs).orElse(within(parts, j.startMs)).getOrElse(root)
      j.id -> Span(id(), parent.id, p.id, "job", j.callSite, j.startMs.toDouble,
        math.max(j.endMs, j.startMs).toDouble)
    }.toMap
    out ++= jobSpans.values
    out ++= jobs.stages.asScala.filter(s => jobSpans.contains(s.jobId)).toSeq.map { s =>
      Span(id(), jobSpans(s.jobId).id, p.id, "stage", s.id.toString, s.startMs.toDouble, s.endMs.toDouble)
    }
    out.toSeq
  })
}
