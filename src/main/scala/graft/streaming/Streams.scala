package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.Tables
import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Structured Streaming twins of the batch operators (SURVEY.md §7.2 M7,
  * §2.6). The reference is an event-time Flink pipeline with a 30-minute
  * bounded-out-of-orderness watermark (`SocialNetwork.java:78-83`); these are
  * the same computations as `readStream` dataflows.
  *
  * Correctness contract (SURVEY.md §5): fidelity is defined on FINAL values —
  * each streaming query replays the bounded events table with
  * `Trigger.AvailableNow` and must produce exactly the batch result, which
  * the DuckDB oracle already checks. Windowed aggregations run in complete
  * mode (bounded replay ⇒ bounded state); per-key stateful operators run in
  * update mode emitting per event, exactly like the reference's
  * `ValueState` process functions.
  *
  * Every query ends in [[runToMemory]], the one place that starts a stream.
  * The state store is the session's provider (HDFS-backed by default), except
  * for `transformWithState` plans, which need RocksDB: the runner picks it
  * for those from the plan. Either way the keyed state replaces the
  * reference's external memcached (design-document.pdf p.1 §2.1).
  *
  * Scale notes: a streaming windowed agg shuffles once on (window, key) with
  * partial aggregation, the same plan as batch; `flatMapGroupsWithState`
  * shuffles once on the key and holds O(1) state per key in the state store.
  */
object Streams {

  /** `/tmp/graft_stream/<dir, sanitized>/<leaf>`: where the files derived
    * from the sf dir `dir` live (stream directories, replay chunks, wire
    * lines). The testdata is read-only, so derived files go here. */
  private[graft] def derivedDir(dir: String, leaf: String): Path =
    Paths.get("/tmp/graft_stream", dir.replaceAll("[^A-Za-z0-9.]", "_"), leaf)

  /** [[derivedDir]] for files BUILT from the events table once and reused
    * while a marker file exists. The leaf name carries a fingerprint of
    * the events parquet (name, size and mtime of every part), so an input
    * regenerated in place gets a fresh directory instead of the stale
    * build; going back to an earlier input finds its own build again. */
  private[graft] def eventsDerivedDir(dir: String, name: String): Path = {
    val src = Paths.get(Tables.path(dir, "events"))
    val parts =
      if (Files.isDirectory(src))
        Using.resource(Files.list(src))(_.iterator().asScala.toList.sortBy(_.getFileName.toString))
      else List(src)
    val fp = parts
      .map(p => s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      .mkString("|").hashCode.toHexString
    derivedDir(dir, s"${name}_$fp")
  }

  /** Symlink `table`'s parquet into `streamDir` as `linkName`. The target
    * is absolute (a relative one would resolve against the link's own
    * directory), and a dangling link left by an earlier run is replaced:
    * it reads as "not exists" when followed, and creating over it would
    * throw `FileAlreadyExistsException`. */
  private def linkTable(streamDir: Path, linkName: String, dir: String, table: String): Unit = {
    val link = streamDir.resolve(linkName)
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) && !Files.exists(link))
      Files.delete(link)
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      Files.createSymbolicLink(link, Paths.get(Tables.path(dir, table)).toAbsolutePath)
  }

  /** A table as an unbounded-source DataFrame (parquet file stream). The
    * file streaming source monitors a DIRECTORY and the testdata ships one
    * parquet file per table, so the table is exposed through a symlink
    * directory. `maxFilesPerTrigger` bounds each micro-batch. */
  def tableStream(s: SparkSession, dir: String, table: String,
                  maxFilesPerTrigger: Option[Int]): DataFrame = {
    val streamDir = derivedDir(dir, table)
    Files.createDirectories(streamDir)
    linkTable(streamDir, s"$table.parquet", dir, table)
    dirStream(s, streamDir, s"$table.parquet", maxFilesPerTrigger)
  }

  /** The parquet files of `streamDir` as a file stream with the schema of
    * its file `schemaFile`. The source takes files oldest first, so the
    * directory builders write them one by one in name order. */
  private def dirStream(s: SparkSession, streamDir: Path, schemaFile: String,
                        maxFilesPerTrigger: Option[Int]): DataFrame = {
    val schema = s.read.parquet(streamDir.resolve(schemaFile).toString).schema
    val reader = s.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(streamDir.toString)
  }

  /** The jittered arrival-order replay `name` (see [[replayStreamDirCols]])
    * as a stream of `filesPerTrigger` chunk files per micro-batch. */
  private def replayStream(s: SparkSession, dir: String, name: String, extra: Seq[String],
                           filesPerTrigger: Int = 1): DataFrame =
    dirStream(s, replayStreamDirCols(s, dir, name, extra), "0_chunk.parquet",
      Some(filesPerTrigger))

  /** Write `df` as the one file `dest`: coalesce to one partition, write it
    * into a sibling build directory, move the part file to `dest` (replacing
    * a file a crashed build left there) and delete the build directory. */
  private[graft] def writeOneFile(df: DataFrame, dest: Path, format: String): Unit = {
    val tmp = dest.resolveSibling(s"_build_${dest.getFileName}")
    df.coalesce(1).write.mode("overwrite").format(format).save(tmp.toString)
    val part = Using.resource(Files.list(tmp))(
      _.iterator().asScala.find(_.getFileName.toString.startsWith("part-")))
      .getOrElse(throw new IllegalStateException(s"no part file written under $tmp"))
    Files.move(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Using.resource(Files.walk(tmp))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p)))
  }

  /** The events table as a file stream, timestamps normalized. */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    normalizeTs(tableStream(s, dir, "events", None))

  /** The documents table as a file stream of at most one source file per
    * micro-batch: x20 and every doc-stream consumer that buffers a per-key
    * batch slice relies on that bound (production swaps in
    * maxBytesPerTrigger). */
  def docsStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "documents", Some(1))

  /** The embeddings table as a file stream — the arriving-query-vector
    * feed the streaming ANN twins serve. */
  def embStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "embeddings", Some(1))

  /** Same ts normalization as the batch reader (`Tables.events`): nanos-long
    * → µs timestamp; timezone-naive (NTZ) → session-UTC timestamp. */
  private def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val providerLock = new Object

  /** Run a bounded stream to completion (`Trigger.AvailableNow`) into a
    * memory sink and return the sink's final table.
    *
    * The state store is chosen from the plan: a `transformWithState` node
    * needs the RocksDB provider (the HDFS-backed one has no column
    * families), so if the session's provider is another one, RocksDB is set
    * for `start()` only and the previous value restored right after; the
    * provider is fixed once the query has started. The check and the swap
    * share one lock, so two `transformWithState` starts never race. Other
    * streams take no lock: they run under whatever provider the session
    * holds when they start (its own one unless a swap is in flight), and
    * every stream with the session's `spark.sql.shuffle.partitions`.
    *
    * `label` is the query name. The sink's temp view is dropped when the
    * run ends, failed or not (a returned frame keeps reading the sink), so
    * a run leaves no table behind; two runs under one label must not
    * overlap. The
    * broadcast contract is asserted here because streaming plans cannot be
    * walked without starting them. */
  private[graft] def runToMemory(df: DataFrame, mode: OutputMode, label: String): DataFrame = {
    graft.plans.BroadcastContract.assertBounded(df, label)
    val s = df.sparkSession
    val writer = df.writeStream.format("memory").queryName(label)
      .outputMode(mode).trigger(Trigger.AvailableNow())
    val tws = df.queryExecution.logical
      .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])
      .isDefined
    val q =
      if (!tws) writer.start()
      else providerLock.synchronized {
        val prev = s.conf.getAll.get(providerKey) // None when unset
        if (prev.contains(rocksDb)) writer.start()
        else {
          s.conf.set(providerKey, rocksDb)
          try writer.start()
          finally prev.fold(s.conf.unset(providerKey))(s.conf.set(providerKey, _))
        }
      }
    try { q.awaitTermination(); s.table(label) }
    finally s.catalog.dropTempView(label)
  }

  /** X1: watermarked sliding-window counts (W2 streaming twin). Complete
    * mode ⇒ the final table carries every window, matching batch w2. */
  def x1_sliding_counts(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           (floor(sum(col("value").cast("decimal(18,6)")).cast("double") * 100.0 + 0.5)
             / 100.0).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
              col("event_type"), col("n"), col("sum_value"))
    runToMemory(agg, OutputMode.Complete(), "x1_stream_sliding_counts")
      .orderBy("win_start", "event_type")
  }

  case class Ev(event_id: Long, user_id: Long, tsMicros: Long, value: Double)
  case class RunOut(event_id: Long, user_id: Long, run_sum: Double, run_n: Long)
  case class RunState(sum: BigDecimal, n: Long)

  /** X2: per-user running cumulative sum via `flatMapGroupsWithState` — the
    * streaming twin of ST4 (the reference's checkpointed `ValueState`
    * ComputeDiffs, session-9/FlinkKafkaConsumer.java:108-137). Emits one row
    * per event in (ts, event_id) order; state = (sum, n) per user. Final
    * output equals the batch window form (st4 oracle). */
  def x2_running_user_sum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[Ev] = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[Ev]
    runToMemory(runningSumStateful(ds).toDF(), OutputMode.Update(), "x2_stream_running_sum")
      .orderBy("event_id")
  }

  /** The x2 stateful core, shared with `CheckpointRestartSpec` — the
    * per-user (sum, n) `ValueState` whose contents the state store
    * checkpoints and restores across restarts. */
  def runningSumStateful(ds: Dataset[Ev]): Dataset[RunOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, RunOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[Ev], state: GroupState[RunState]) =>
          var st = state.getOption.getOrElse(RunState(BigDecimal(0), 0L))
          val outs = it.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
            // mirror the batch form exactly: addends quantized like
            // CAST(value AS DECIMAL(18,6)), exact decimal sum, floor-round
            val addend = BigDecimal.valueOf(e.value)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)
            st = RunState(st.sum + addend, st.n + 1)
            val rounded = math.floor(st.sum.toDouble * 100.0 + 0.5) / 100.0
            RunOut(e.event_id, e.user_id, rounded, st.n)
          }
          state.update(st)
          outs.iterator
      }
  }

  case class Edge(event_id: Long, parentOrSelf: Long, isRoot: Boolean, chain: Long)
  case class ResOut(event_id: Long, root_id: Long)
  case class ResState(resolved: Map[Long, Long], parked: List[(Long, Long)])

  /** X3: streaming reply→root resolution via `flatMapGroupsWithState` — the
    * streaming twin of ST1 (PostIdResolver.java:26-225): arrivals whose
    * parent is unknown park in state and flush when the parent resolves,
    * replacing the reference's external memcached with the per-key state
    * store. Keyed by chain group; emits (event_id, root_id). */
  def x3_stream_resolver(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = eventsStream(s, dir)
      .select(col("event_id"),
        when(col("event_id") % 7 === 0, col("event_id"))
          .otherwise(col("event_id") - 1).as("parentOrSelf"),
        (col("event_id") % 7 === 0).as("isRoot"),
        (col("event_id") / 7).cast("long").as("chain"))
      .as[Edge]
    val out = ds.groupByKey(_.chain)
      .flatMapGroupsWithState[ResState, ResOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[Edge], state: GroupState[ResState]) =>
          var st = state.getOption.getOrElse(ResState(Map.empty, Nil))
          val emitted = scala.collection.mutable.ListBuffer[ResOut]()
          def resolve(id: Long, root: Long): Unit = {
            st = ResState(st.resolved + (id -> root), st.parked)
            emitted += ResOut(id, root)
            // flush any parked children now resolvable
            val (ready, stillParked) = st.parked.partition(_._2 == id)
            st = ResState(st.resolved, stillParked)
            ready.foreach { case (child, _) => resolve(child, root) }
          }
          it.toSeq.sortBy(_.event_id).foreach { e =>
            if (e.isRoot) resolve(e.event_id, e.event_id)
            else st.resolved.get(e.parentOrSelf) match {
              case Some(root) => resolve(e.event_id, root)
              case None => st = ResState(st.resolved, (e.event_id, e.parentOrSelf) :: st.parked)
            }
          }
          state.update(st)
          emitted.iterator
      }
    runToMemory(out.toDF(), OutputMode.Update(), "x3_stream_resolver")
      .orderBy("event_id")
  }

  /** The [[x2_running_user_sum]] state machine on Spark 4's
    * `transformWithState` API — the successor to `flatMapGroupsWithState`:
    * typed named state handles (`ValueState`), explicit `TimeMode`, and a
    * RocksDB-only state store. Same per-user (sum, n) semantics. */
  private class RunningSumProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, RunOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[RunState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[RunState]("runState",
        Encoders.product[RunState], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RunOut] = {
      var cur = if (st.exists()) st.get() else RunState(BigDecimal(0), 0L)
      val outs = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
        val addend = BigDecimal.valueOf(e.value)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        cur = RunState(cur.sum + addend, cur.n + 1)
        RunOut(e.event_id, e.user_id,
          math.floor(cur.sum.toDouble * 100.0 + 0.5) / 100.0, cur.n)
      }
      st.update(cur)
      outs.iterator
    }
  }

  /** X9: the running sum via `transformWithState` (TWS), which runs on the
    * RocksDB state store ([[runToMemory]] picks it from the plan). Final
    * output = the batch st4 oracle, like x2. */
  def x9_tws_running_sum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[Ev] = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[Ev]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new RunningSumProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
    runToMemory(out.toDF(), OutputMode.Update(), "x9_tws_running_sum")
      .orderBy("event_id")
  }

  case class ParkedEdge(id: Long, parent: Long)

  /** The park-and-retry resolver protocol on the `transformWithState` API:
    * resolved mappings live in a `MapState` (the memcached replacement),
    * parked replies in a `ListState`, and retries are EVENT-TIME TIMERS
    * registered through the handle and delivered to `handleExpiredTimer` —
    * the reference's `registerEventTimeTimer`/`onTimer` pair
    * (PostIdResolver.java:167-169,186-214) expressed in the modern state
    * API. */
  private class TimerResolverProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TEdge, ResOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, TimerValues, TTLConfig, TimeMode}
    @transient private var resolved: MapState[Long, Long] = _
    @transient private var parked: ListState[ParkedEdge] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      resolved = getHandle.getMapState[Long, Long]("resolved",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      parked = getHandle.getListState[ParkedEdge]("parked",
        Encoders.product[ParkedEdge], TTLConfig.NONE)
    }
    private def resolve(id: Long, root: Long): ResOut = {
      resolved.updateValue(id, root)
      ResOut(id, root)
    }
    override def handleInputRows(key: Long, rows: Iterator[TEdge],
        timerValues: TimerValues): Iterator[ResOut] = {
      val out = scala.collection.mutable.ListBuffer[ResOut]()
      var maxTsMs = Long.MinValue
      var anyParked = false
      rows.toSeq.filter(_.event_id >= 0).sortBy(e => (e.arrival_s, e.event_id))
        .foreach { e =>
          maxTsMs = math.max(maxTsMs, e.ts.getTime)
          val parent = e.event_id - 1
          if (e.event_id % 7 == 0) out += resolve(e.event_id, e.event_id)
          else if (resolved.containsKey(parent))
            out += resolve(e.event_id, resolved.getValue(parent))
          else { parked.appendValue(ParkedEdge(e.event_id, parent)); anyParked = true }
        }
      if (anyParked)
        getHandle.registerTimer(
          math.max(maxTsMs, timerValues.getCurrentWatermarkInMs() + 1))
      out.iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ResOut] = {
      val out = scala.collection.mutable.ListBuffer[ResOut]()
      var still = parked.get().toList
      var progress = true
      while (progress && still.nonEmpty) {
        progress = false
        val (ready, rest) = still.partition(p => resolved.containsKey(p.parent))
        if (ready.nonEmpty) {
          progress = true
          ready.sortBy(_.id).foreach(p => out += resolve(p.id, resolved.getValue(p.parent)))
          still = rest
        }
      }
      parked.clear()
      if (still.nonEmpty) {
        still.foreach(parked.appendValue)
        getHandle.registerTimer(
          timerValues.getCurrentWatermarkInMs() + 30 * 60 * 1000L)
      }
      out.iterator
    }
  }

  /** X10: [[x3_timer_resolver]] on `transformWithState` with
    * `TimeMode.EventTime` — same jittered arrival-order replay, same parked
    * children resolvable only from the timer callback; RocksDB-mandatory.
    * Final output = the batch st1 oracle. */
  def x10_tws_timer_resolver(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = replayStream(s, dir, "events_replay", Nil)
      .select(col("event_id"), col("ts"), col("arrival_s"))
      .withWatermark("ts", "30 minutes")
      .as[TEdge]
    val out = ds.groupByKey(e => if (e.event_id < 0) -1L else e.event_id / 7)
      .transformWithState(new TimerResolverProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
    runToMemory(out.toDF(), OutputMode.Update(), "x10_tws_timer_resolver")
      .orderBy("event_id")
  }

  case class FEv(event_id: Long, user_id: Long, tsMicros: Long, value: Double,
                 event_type: String, props: String)
  case class FOut(event_id: Long, user_id: Long, freq: Double, prev_value: Double,
                  comment_len: Long, post_len: Long,
                  comment_ratio: Double, post_ratio: Double)
  /** last-3-timestamp shift register + previous measure — the reference's
    * `userLastThreeActivities` + `Features` ValueStates. */
  case class FState(t1: Long, t2: Long, nSeen: Long, prevValue: Double)

  /** X7: streaming ComputeFeatures — the ST2 feature vector emitted per
    * event from per-user state (`AnomalousUserDetector.ComputeFeatures`,
    * the reference's `ValueState` shift register), via
    * `flatMapGroupsWithState`. Content features are stateless per event;
    * the state carries the last two activity timestamps (for the 3-event
    * moving frequency) and the previous measure. Final output equals the
    * batch st2 oracle. */
  def x7_stream_features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def round4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val ds = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"),
              col("event_type"), col("props"))
      .as[FEv]
    val out = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[FState, FOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[FEv], state: GroupState[FState]) =>
          var st = state.getOption.getOrElse(FState(-1L, -1L, 0L, -1.0))
          val outs = it.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
            val sec = math.floorDiv(e.tsMicros, 1000000L)
            val freq = if (st.nSeen >= 2)
              round4(3.0 * 3600.0 / math.max(sec - st.t2, 1L)) else -1.0
            // same content derivation as the batch `withFeatures`
            // toIntOption (not toInt): an over-Int digit run must coalesce
            // to 0 like batch cast→NULL→0 and the oracle's TRY_CAST
            val k = "([0-9]+)".r.findFirstIn(e.props)
              .flatMap(_.toIntOption).getOrElse(0)
            val content = if (k % 3 == 0) s"${e.event_type} ${e.event_type} ${e.props}"
                          else s"${e.event_type} ${e.props}"
            val isComment = e.event_type == "click" || e.event_type == "view"
            val isPost = e.event_type == "purchase"
            val toks = content.split(" ", -1)
            val uwr = round4(toks.distinct.length.toDouble / toks.length)
            val o = FOut(e.event_id, e.user_id, freq, st.prevValue,
              if (isComment) content.length.toLong else -1L,
              if (isPost) content.length.toLong else -1L,
              if (isComment) uwr else -1.0,
              if (isPost) uwr else -1.0)
            st = FState(sec, st.t1, st.nSeen + 1, e.value)
            o
          }
          state.update(st)
          outs.iterator
      }
    runToMemory(out.toDF(), OutputMode.Update(), "x7_stream_features")
      .orderBy("event_id")
  }

  /** Per-user half of the x35 state: the last two activity timestamps (the
    * 3-event moving-frequency shift register). */
  case class SigUState(t1: Long, t2: Long, nSeen: Long)
  /** The x35 global-signature state: five conditional decimal sums (held as
    * plain strings — exact, encoder-stable) + counts, plus the per-user
    * feature registers (the reference's keyed ComputeFeatures state folded
    * into the same operator — see [[x35_stream_signature]]). */
  case class SigState(sums: Array[String], cnts: Array[Long],
                      users: Map[Long, SigUState])
  case class SigOut(event_id: Long, user_id: Long, freq: Double,
                    comment_len: Long, post_len: Long,
                    comment_ratio: Double, post_ratio: Double, reasons: Int)

  /** The x35 stateful fold — one call per (constant-key) group per trigger;
    * shared with `StreamingSpec`'s cross-trigger continuity case. Replays
    * the batch st6 semantics exactly: per event (in (ts, event_id) order),
    * derive the five features from the per-user shift register, fold the
    * non-sentinel ones into the global conditional decimal sums (update
    * BEFORE check — the mean includes the current activity,
    * AnomalousUserDetector.java:268-272), then apply the isNormal threshold
    * checks and emit the event iff any fired. Sums accumulate as exact
    * scale-10 decimals via the same valueOf path as Spark's
    * double→DECIMAL(30,10) cast, so the emitted set is bit-identical to
    * the batch fold's. */
  private[graft] def signatureFold(it: Iterator[FEv],
      state: GroupState[SigState]): Iterator[SigOut] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def round4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    def dec(d: Double): JBD = JBD.valueOf(d).setScale(10, RoundingMode.HALF_UP)
    val st0 = state.getOption.getOrElse(
      SigState(Array.fill(5)("0"), Array.fill(5)(0L), Map.empty))
    val sums = st0.sums.map(new JBD(_))
    val cnts = st0.cnts.clone()
    var users = st0.users
    val out = scala.collection.mutable.ArrayBuffer.empty[SigOut]
    it.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
      val sec = math.floorDiv(e.tsMicros, 1000000L)
      val u = users.getOrElse(e.user_id, SigUState(-1L, -1L, 0L))
      val freq = if (u.nSeen >= 2) 3.0 * 3600.0 / math.max(sec - u.t2, 1L)
                 else -1.0
      // content derivation identical to batch withFeatures / the x7 twin
      val k = "([0-9]+)".r.findFirstIn(e.props)
        .flatMap(_.toIntOption).getOrElse(0)
      val content = if (k % 3 == 0) s"${e.event_type} ${e.event_type} ${e.props}"
                    else s"${e.event_type} ${e.props}"
      val isComment = e.event_type == "click" || e.event_type == "view"
      val isPost = e.event_type == "purchase"
      val toks = content.split(" ", -1)
      val uwr = toks.distinct.length.toDouble / toks.length // RAW — means use it
      val cLen = if (isComment) content.length.toLong else -1L
      val pLen = if (isPost) content.length.toLong else -1L
      val cRatio = if (isComment) uwr else -1.0
      val pRatio = if (isPost) uwr else -1.0
      // sentinel-aware signature update, BEFORE the normality check
      val feats = Array(freq, cLen.toDouble, pLen.toDouble, cRatio, pRatio)
      var i = 0
      while (i < 5) {
        if (feats(i) != -1.0) { sums(i) = sums(i).add(dec(feats(i))); cnts(i) += 1 }
        i += 1
      }
      def avg(i: Int): Double = sums(i).doubleValue / cnts(i)
      def band(c: Double, i: Int, bit: Int): Int =
        if (c != -1.0 && (c < avg(i) * 0.5 || c > avg(i) * 2)) bit else 0
      val reasons =
        (if (freq != -1.0 && freq > avg(0) * 2) 1 else 0) +
        band(cLen.toDouble, 1, 2) + band(pLen.toDouble, 2, 4) +
        band(cRatio, 3, 8) + band(pRatio, 4, 16)
      if (reasons > 0)
        out += SigOut(e.event_id, e.user_id,
          if (freq == -1.0) -1.0 else round4(freq), cLen, pLen,
          if (cRatio == -1.0) -1.0 else round4(cRatio),
          if (pRatio == -1.0) -1.0 else round4(pRatio), reasons)
      users = users.updated(e.user_id, SigUState(sec, u.t1, u.nSeen + 1))
    }
    state.update(SigState(sums.map(_.toPlainString), cnts, users))
    out.iterator
  }

  /** X35: streaming UnusualUserDetector — the ST3/ST6 global-signature
    * anomaly detector as a CONSTANT-KEY `flatMapGroupsWithState`: every
    * event routes to one group (the reference runs the detector at
    * parallelism 1 and broadcast-replicates for the same reason,
    * AnomalousUserDetector.java:66), whose state holds the running
    * sentinel-aware conditional means of the five features
    * (Signatures.update, :160-200) plus the per-user feature shift
    * registers (ComputeFeatures' keyed ValueState, folded into the same
    * operator because the signature must observe events in global order —
    * a keyed upstream stage would only preserve per-user order). Emits the
    * flagged events (:248-274's per-event verdict) under x30's in-order
    * replay contract; state string-encodes the exact decimal sums so every
    * trigger resumes the fold bit-exactly. Final output = the batch
    * [[graft.queries.Stateful.st6_conditional_signature]] oracle.
    *
    * Scale note: constant-key statefulness is the declared non-scalable
    * exact form — the same contract as the batch st3/st6 naive folds; the
    * scalable path is the batch two-pass decomposition (st6_scalable),
    * and this twin exists because SURVEY §2.3 maps ST3's streaming half
    * to exactly this operator shape. */
  /** The x35 stateful transform, factored so `StreamingSpec` can drive it
    * from a `MemoryStream` across engineered triggers. */
  private[graft] def signatureStateful(ds: Dataset[FEv]): Dataset[SigOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_ => 0L)
      .flatMapGroupsWithState[SigState, SigOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[FEv], state: GroupState[SigState]) =>
          signatureFold(it, state)
      }
  }

  def x35_stream_signature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"),
              col("event_type"), col("props"))
      .as[FEv]
    runToMemory(signatureStateful(ds).toDF(), OutputMode.Update(), "x35_stream_signature")
      .orderBy("event_id")
  }

  case class EwmaState(ewma: Long, n: Long)
  case class EwmaOut(user_id: Long, n_events: Long, ewma_cents: Long)

  /** X14: streaming twin of the st7 EWMA — per-user decayed mean held as
    * integer cents in a `ValueState` (ewmaᵢ = (ewmaᵢ₋₁ + xᵢ) >> 1, the same
    * floor-halving as the batch fold and the `list_reduce` oracle). Emits
    * each user's CURRENT (n, ewma) once per micro-batch — bounded replay is
    * one batch, so the final table is exactly the batch st7 result. */
  def x14_stream_ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[Ev] = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[Ev]
    val out = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(-1L, 0L))
          it.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
            val cents = math.floor(e.value * 100.0 + 0.5).toLong
            st = EwmaState(
              if (st.n == 0) cents else (st.ewma + cents) >> 1,
              st.n + 1)
          }
          state.update(st)
          Iterator.single(EwmaOut(user, st.n, st.ewma))
      }
    runToMemory(out.toDF(), OutputMode.Update(), "x14_stream_ewma")
      .orderBy("user_id")
  }

  case class OEv(event_id: Long, user_id: Long, tsMicros: Long, value: Double)
  case class OhlcState(oUs: Long, oId: Long, open: Long, cUs: Long, cId: Long,
                       close: Long, high: Long, low: Long, n: Long, vol: Long)
  case class OhlcOut(user_id: Long, hr: Long, open: Long, high: Long, low: Long,
                     close: Long, n: Long, volume_cents: Long)

  /** X15: streaming OHLC bars — the w10 downsample maintained per
    * (user, hour) key under genuinely OUT-OF-ORDER arrival (the jittered
    * replay dir): open/close carry their event-time key in state, so the
    * merge is order-insensitive — an early event arriving late still
    * becomes the open. O(1) state per key (ten longs), no per-event buffer;
    * emissions are running bars, the final one per key equaling the batch
    * w10 oracle. */
  def x15_stream_ohlc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 2 files per trigger (vs the timer queries' 1): the OHLC merge is
    // arrival-order-insensitive and nothing here fires at the watermark, so
    // halving the micro-batch count halves the state-store commit overhead
    // without touching the out-of-order semantics under test
    val ds = replayStream(s, dir, "events_replay_ohlc", Seq("user_id", "value"),
        filesPerTrigger = 2)
      .withWatermark("ts", "30 minutes")
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[OEv]
    val out = ds
      .groupByKey(e => (e.user_id, math.floorDiv(e.tsMicros, 3600000000L)))
      .flatMapGroupsWithState[OhlcState, OhlcOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long), it: Iterator[OEv], state: GroupState[OhlcState]) =>
          var st = state.getOption.getOrElse(OhlcState(
            Long.MaxValue, Long.MaxValue, 0L, Long.MinValue, Long.MinValue, 0L,
            Long.MinValue, Long.MaxValue, 0L, 0L))
          it.foreach { e => // no sort: the merge is arrival-order-insensitive
            val cents = math.floor(e.value * 100.0 + 0.5).toLong
            val isEarlier = e.tsMicros < st.oUs ||
              (e.tsMicros == st.oUs && e.event_id < st.oId)
            val isLater = e.tsMicros > st.cUs ||
              (e.tsMicros == st.cUs && e.event_id > st.cId)
            st = OhlcState(
              if (isEarlier) e.tsMicros else st.oUs,
              if (isEarlier) e.event_id else st.oId,
              if (isEarlier) cents else st.open,
              if (isLater) e.tsMicros else st.cUs,
              if (isLater) e.event_id else st.cId,
              if (isLater) cents else st.close,
              math.max(st.high, cents), math.min(st.low, cents),
              st.n + 1, st.vol + cents)
          }
          state.update(st)
          Iterator.single(OhlcOut(key._1, key._2, st.open, st.high, st.low,
            st.close, st.n, st.vol))
      }
    val mem = runToMemory(out.toDF(), OutputMode.Update(), "x15_stream_ohlc")
    import org.apache.spark.sql.expressions.Window
    mem.filter(col("user_id") =!= -1L)
      .withColumn("_rn", row_number().over( // keep each key's final bar
        Window.partitionBy(col("user_id"), col("hr")).orderBy(col("n").desc)))
      .filter(col("_rn") === 1).drop("_rn")
      .orderBy("user_id", "hr")
  }

  case class TEdge(event_id: Long, ts: java.sql.Timestamp, arrival_s: Long)
  case class TimerState(resolved: Map[Long, Long], parked: List[(Long, Long)])

  /** Build (once per events fingerprint, see [[eventsDerivedDir]]) a
    * stream directory `name` replaying `events` as (event_id, ts, `extra`
    * event columns, arrival_s) in the deterministic jittered ARRIVAL order
    * of `Replay.arrivals` — 4 parquet chunk files in arrival order plus a
    * far-future sentinel, so `maxFilesPerTrigger 1` yields micro-batches
    * whose watermark advances exactly like the reference's replayed Kafka
    * topic. Sentinel defaults per type: long → −1, double → 0.0,
    * string → "". */
  private[graft] def replayStreamDirCols(s: SparkSession, dir: String, name: String,
      extra: Seq[String]): java.nio.file.Path = {
    val streamDir = eventsDerivedDir(dir, name)
    val doneMarker = streamDir.resolve("9_sentinel.parquet")
    if (!Files.exists(doneMarker)) {
      Files.createDirectories(streamDir)
      import org.apache.spark.sql.expressions.Window
      val arr = graft.queries.Replay.arrivals(s, dir)
        .select(col("event_id"), col("arrival_s"))
      val ev = Tables.events(s, dir)
        .select(("event_id" +: "ts" +: extra).map(col): _*)
        .join(arr, Seq("event_id"))
        .withColumn("_rk", row_number().over( // test-harness setup, not a query plan
          Window.orderBy(col("arrival_s"), col("event_id"))))
      val n = ev.count()
      val farFuture = Tables.events(s, dir)
        .select(max(col("ts")).as("mx")).head().getTimestamp(0).toInstant
        .plusSeconds(30 * 24 * 3600)
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val sentinelVals: Array[Any] = ev.drop("_rk").schema.fields.map { f =>
        f.name match {
          case "event_id"  => -1L
          case "ts"        => java.sql.Timestamp.from(farFuture)
          case "arrival_s" => Long.MaxValue
          case _ => f.dataType match {
            case LongType   => -1L
            case DoubleType => 0.0
            case _          => ""
          }
        }
      }
      val sentinel = s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(sentinelVals: _*)),
        org.apache.spark.sql.types.StructType(ev.drop("_rk").schema.fields))
      val chunks = (0 until 4).map { k =>
        val lo = k * n / 4 + 1; val hi = (k + 1) * n / 4
        (s"${k}_chunk.parquet",
         ev.filter(col("_rk").between(lo, hi)).drop("_rk"))
      } :+ ("9_sentinel.parquet", sentinel)
      chunks.foreach { case (name, df) => // sequential: mtime order = name order
        writeOneFile(df, streamDir.resolve(name), "parquet")
      }
    }
    streamDir
  }

  /** X3-timer: the reference's ACTUAL resolver protocol (PostIdResolver.java:
    * 138-214) — chain-walk on arrival; on a miss, save progress, PARK the
    * reply and register an EVENT-TIME TIMER at the reply's own timestamp
    * (`:167-169`); when the watermark passes, `onTimer` re-walks the chain
    * (`:186-214`). The stream replays events in the deterministic jittered
    * arrival order (out-of-order children really do arrive before their
    * parents), keyed by chain, with `GroupStateTimeout.EventTimeTimeout`
    * driving the retries. Final output = the batch st1 oracle. */
  def x3_timer_resolver(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = replayStream(s, dir, "events_replay", Nil)
      .select(col("event_id"), col("ts"), col("arrival_s"))
      .withWatermark("ts", "30 minutes")
      .as[TEdge]
    val out = ds.groupByKey(e => if (e.event_id < 0) -1L else e.event_id / 7)
      .flatMapGroupsWithState[TimerState, ResOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, it: Iterator[TEdge], state: GroupState[TimerState]) =>
          var st = state.getOption.getOrElse(TimerState(Map.empty, Nil))
          val emitted = scala.collection.mutable.ListBuffer[ResOut]()
          def emit(id: Long, root: Long): Unit = {
            st = TimerState(st.resolved + (id -> root), st.parked)
            emitted += ResOut(id, root)
          }
          if (state.hasTimedOut) {
            // onTimer: re-walk every parked reply; the fixpoint loop plays
            // the reference's repeated per-timer retries
            var progress = true
            while (progress && st.parked.nonEmpty) {
              progress = false
              val (ready, still) = st.parked.partition { case (_, p) => st.resolved.contains(p) }
              if (ready.nonEmpty) {
                progress = true
                st = TimerState(st.resolved, still)
                ready.sortBy(_._1).foreach { case (id, p) => emit(id, st.resolved(p)) }
              }
            }
            if (st.parked.nonEmpty) // not yet resolvable: retry at next watermark
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 30 * 60 * 1000L)
          } else {
            var maxTsMs = Long.MinValue
            it.toSeq.filter(_.event_id >= 0).sortBy(e => (e.arrival_s, e.event_id))
              .foreach { e =>
                maxTsMs = math.max(maxTsMs, e.ts.getTime)
                val isRoot = e.event_id % 7 == 0
                val parent = e.event_id - 1
                if (isRoot) emit(e.event_id, e.event_id)
                else st.resolved.get(parent) match {
                  case Some(root) => emit(e.event_id, root) // chain-walk hit
                  case None => // miss: park + event-time timer at own ts
                    st = TimerState(st.resolved, (e.event_id, parent) :: st.parked)
                }
              }
            if (st.parked.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(maxTsMs, state.getCurrentWatermarkMs() + 1))
          }
          state.update(st)
          emitted.iterator
      }
    runToMemory(out.toDF(), OutputMode.Update(), "x3_timer_resolver")
      .orderBy("event_id")
  }

  /** X16 core: every UPDATE-mode emission of a watermarked 1-hour tumbling
    * count over the jittered replay — the observable record of window
    * REFINEMENT under allowed lateness. The reference fires a window at the
    * watermark and then RE-FIRES an updated result for each late record
    * inside `allowedLateness` (`ActivePostStatistician.java:52-53`); Spark's
    * analog is update output mode, where a window re-emits in every
    * micro-batch that changes it and the single watermark delay plays
    * ooo-bound + allowedLateness combined. The replay's 4 arrival-order
    * chunks arrive as 4 micro-batches, so a window whose out-of-order
    * records straddle a chunk boundary provably re-fires: the memory sink
    * accumulates one row per (micro-batch, changed window) — the emission
    * log `StreamingSpec` audits against the replay schedule. Jitter
    * (< 30 min) stays inside the watermark delay, so every record is
    * late-but-WITHIN-lateness: refined, never dropped (Replay.scala's
    * provably-empty-late-channel argument).
    *
    * Scale: one shuffle on the window key with partial aggregation; state =
    * one running count per open window, evicted at the watermark. */
  def x16_emissions(s: SparkSession, dir: String): DataFrame = {
    val agg = replayStream(s, dir, "events_replay", Nil)
      .filter(col("event_id") >= 0) // sentinel: update mode needs no flush
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("win_start"), col("n_events"))
    runToMemory(agg, OutputMode.Update(), "x16_late_refinement")
  }

  /** X16: the FINAL refined value per window — each window's count is
    * nondecreasing across its re-fires, so the last (= max) emission is the
    * total, and with jitter < watermark delay nothing was dropped: the
    * refinement chain converges to exactly the batch tumbling count. */
  def x16_late_refinement(s: SparkSession, dir: String): DataFrame =
    x16_emissions(s, dir)
      .groupBy(col("win_start"))
      .agg(max(col("n_events")).as("n_events"))
      .orderBy("win_start")

  val x16Sql: String =
    """SELECT floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT AS win_start,
      |       count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** X4: streaming session windows in APPEND mode — the strictest
    * event-time semantics: a session row is emitted exactly once, when the
    * watermark passes its close (the reference's window-firing discipline,
    * L1/L2). Bounded replay needs a final watermark push to flush the tail
    * sessions, so a far-future sentinel row (user_id = −1, filtered from the
    * result) is appended as a SECOND file processed in a later micro-batch
    * (`maxFilesPerTrigger 1` keeps file order = batch order). Final output
    * equals batch w9. */
  def x4_stream_sessions(s: SparkSession, dir: String): DataFrame = {
    val ev = sharedSentinelStream(s, dir)
    val agg = ev
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           (floor(sum(col("value").cast("decimal(18,6)")).cast("double") * 100.0 + 0.5)
             / 100.0).as("sum_value"))
      .select(unix_timestamp(col("session_window.start")).as("sess_start"),
              col("user_id"), col("n_events"), col("sum_value"))
    runToMemory(agg, OutputMode.Append(), "x4_stream_sessions")
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "sess_start")
  }

  /** X23: w12's DYNAMIC-GAP sessions online — `session_window` with a
    * per-row gap expression under a watermarked stream: purchase events
    * hold their session open 2 h in the state store, everything else
    * 30 min, and a session flushes (append mode) only once the watermark
    * passes its running-max end. Same replay, same sentinel flush, same
    * oracle as the batch twin — the dynamic gap changes WHEN state evicts,
    * not the final rows. */
  def x23_stream_dynamic_sessions(s: SparkSession, dir: String): DataFrame = {
    val ev = sharedSentinelStream(s, dir)
    val agg = ev
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"),
        when(col("event_type") === "purchase", "2 hours").otherwise("30 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           (floor(sum(col("value").cast("decimal(18,6)")).cast("double") * 100.0 + 0.5)
             / 100.0).as("sum_value"))
      .select(unix_timestamp(col("session_window.start")).as("sess_start"),
              col("user_id"), col("n_events"), col("sum_value"))
    runToMemory(agg, OutputMode.Append(), "x23_stream_dyn_sessions")
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "sess_start")
  }

  /** X8: streaming exact deduplication — `dropDuplicates` over the event
    * stream keyed by (user_id, event_type): the stateful first-arrival
    * dedup a training-data ingest pipeline runs on the fly (batch twin: the
    * d1 exact-dedup family). State = one marker per distinct key in the
    * state store; the final emitted set equals the batch DISTINCT. */
  def x8_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val dedup = eventsStream(s, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runToMemory(dedup, OutputMode.Append(), "x8_stream_dedup")
      .orderBy("user_id", "event_type")
  }

  val x8Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** X13: streaming dedup with BOUNDED state — `dropDuplicatesWithinWatermark`.
    * x8's `dropDuplicates` keeps one marker per distinct key FOREVER (state
    * grows with the key space — fine for a bounded key domain, fatal for an
    * unbounded one). The `..WithinWatermark` variant evicts markers once the
    * watermark passes them: state is bounded by the watermark horizon, the
    * production form for unbounded keys whose duplicates arrive close
    * together (retries, at-least-once upstreams). Here the key embeds the
    * event's 1-hour bucket, so a key's duplicates span < 1 h ≤ the 2 h
    * watermark delay and the streaming result provably equals the batch
    * DISTINCT — the eviction saves state without changing the answer. */
  def x13_stream_dedup_watermark(s: SparkSession, dir: String): DataFrame = {
    val dedup = eventsStream(s, dir)
      .withColumn("hour_s", expr("(unix_micros(ts) div 3600000000) * 3600"))
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_type"), col("hour_s"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_s")
      .select(col("user_id"), col("event_type"), col("hour_s"))
    runToMemory(dedup, OutputMode.Append(), "x13_stream_dedup_watermark")
      .orderBy("user_id", "event_type", "hour_s")
  }

  val x13Sql: String =
    """SELECT DISTINCT user_id, event_type,
      |  (epoch_ns(ts) // 1000 // 3600000000) * 3600 AS hour_s
      |FROM events
      |ORDER BY user_id, event_type, hour_s""".stripMargin

  /** X11: stream-STREAM join — two unbounded sides joined with per-side
    * watermarks and a time-range condition: each purchase matched to the
    * same user's clicks in the preceding 30 minutes (attribution, the
    * canonical stream-stream shape). Spark keeps both sides' unmatched rows
    * in the state store and the time bound + watermarks let it EVICT state
    * older than the range — without the range condition the state grows
    * unboundedly, the #1 production stream-join mistake. Inner join ⇒
    * matches emit as soon as both sides arrive (append mode). Both sides'
    * event times are µs-truncated, so the range compare equals the oracle's
    * integer-µs compare. */
  def x11_stream_stream_join(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
              ((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                / lit(1000000L)).cast("long").as("lag_s"))
    runToMemory(joined, OutputMode.Append(), "x11_stream_stream_join")
      .orderBy("p_id", "c_id")
  }

  val x11Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events
      |)
      |SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
      |       (p.t - c.t) // 1000000 AS lag_s
      |FROM e p JOIN e c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.t <= p.t AND c.t >= p.t - 1800000000
      |ORDER BY p_id, c_id""".stripMargin

  /** Build (once per events fingerprint) a two-file stream directory: the
    * events table followed by far-future sentinel rows in a second file —
    * with `maxFilesPerTrigger 1` the sentinel batch pushes the watermark
    * past every real event, flushing results that only emit at watermark
    * (append-mode windows, outer-join nulls). `sentinels` receives the
    * far-future instant and builds the rows in the RAW parquet schema
    * (ts is LongType nanos under nanosAsLong). */
  private def sentinelStreamDir(s: SparkSession, dir: String, name: String,
      sentinels: (org.apache.spark.sql.types.StructType, Any) => Seq[Row]): java.nio.file.Path = {
    val streamDir = eventsDerivedDir(dir, name)
    val sentinelDone = streamDir.resolve("1_sentinel.parquet")
    if (!Files.exists(sentinelDone)) {
      Files.createDirectories(streamDir)
      linkTable(streamDir, "0_events.parquet", dir, "events")
      val farFuture = Tables.events(s, dir)
        .select(max(col("ts")).as("mx")).head().getTimestamp(0).toInstant
        .plusSeconds(30 * 24 * 3600)
      val schema0 = s.read.parquet(Tables.path(dir, "events")).schema
      val tsVal: Any = schema0("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          farFuture.getEpochSecond * 1000000000L
        case org.apache.spark.sql.types.TimestampNTZType => // NTZ rows carry LocalDateTime
          java.time.LocalDateTime.ofInstant(farFuture, java.time.ZoneOffset.UTC)
        case _ => java.sql.Timestamp.from(farFuture)
      }
      writeOneFile(s.createDataFrame(sentinels(schema0, tsVal).asJava, schema0),
        sentinelDone, "parquet")
    }
    streamDir
  }

  /** Events as a 2-micro-batch stream (events file, then sentinel file). */
  private def sentinelEventsStream(s: SparkSession, dir: String, name: String,
      sentinels: (org.apache.spark.sql.types.StructType, Any) => Seq[Row]): DataFrame = {
    normalizeTs(dirStream(s, sentinelStreamDir(s, dir, name, sentinels),
      "0_events.parquet", Some(1)))
  }

  /** The ONE sentinel dir every watermark-flush consumer shares (x4's
    * append-mode sessions, x12's outer join) — the dir build is a one-time
    * cost per sf, so the flush shapes pool it: all sentinel rows carry a
    * negative user_id (filtered from every result), and each join side gets
    * a sentinel of its own event_type so per-side watermarks (computed
    * after the type filter) still advance. */
  private def sharedSentinelStream(s: SparkSession, dir: String): DataFrame =
    sentinelEventsStream(s, dir, "events_sentinel",
      (_, tsVal) => Seq(Row(-1L, tsVal, -1L, "sentinel", 0.0, ""),
                        Row(-1L, tsVal, -1L, "purchase", 0.0, ""),
                        Row(-2L, tsVal, -1L, "click", 0.0, "")))

  /** X12: stream-stream LEFT OUTER join — x11's attribution shape, but
    * purchases with NO click in the window must still come out, null-
    * extended. Subtler than the inner join: an outer result may only emit
    * once the click-side watermark proves no matching click can still
    * arrive (c_ts ≤ p_ts, so: watermark past p_ts), which on a bounded
    * replay never happens for the tail — a far-future sentinel row per
    * side (filtered from the result) pushes the final watermark, the same
    * flush discipline as the append-mode session windows (x4). */
  def x12_stream_outer_join(s: SparkSession, dir: String): DataFrame = {
    def side() = sharedSentinelStream(s, dir)
    val purchases = side()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = side()
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
              ((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                / lit(1000000L)).cast("long").as("lag_s"))
    runToMemory(joined, OutputMode.Append(), "x12_stream_outer_join")
      .filter(col("user_id") =!= -1L)
      .orderBy("p_id", "c_id")
  }

  /** X17: stream-stream FULL OUTER join — completes the join family
    * (x11 inner, x12 left-outer): BOTH unmatched sides must surface,
    * null-extended, and each unmatched row may only emit once the OPPOSITE
    * side's watermark proves no partner can still arrive. Same shared
    * sentinel flush; the sentinel pair (negative user_id) joins only
    * itself and is filtered. Clicks with no later purchase — invisible to
    * x11/x12 — come out here with a null p_id. */
  def x17_stream_full_outer_join(s: SparkSession, dir: String): DataFrame = {
    def side() = sharedSentinelStream(s, dir)
    val purchases = side()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = side()
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
        "full_outer")
      .select(col("p_id"), col("c_id"),
              coalesce(col("p_user"), col("c_user")).as("user_id"),
              ((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                / lit(1000000L)).cast("long").as("lag_s"))
    runToMemory(joined, OutputMode.Append(), "x17_stream_full_outer")
      .filter(col("user_id") >= 0)
      .orderBy("p_id", "c_id")
  }

  val x17Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events
      |)
      |SELECT p.event_id AS p_id, c.event_id AS c_id,
      |       coalesce(p.user_id, c.user_id) AS user_id,
      |       (p.t - c.t) // 1000000 AS lag_s
      |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
      |FULL JOIN (SELECT * FROM e WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.t <= p.t AND c.t >= p.t - 1800000000
      |ORDER BY p_id, c_id""".stripMargin

  val x12Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events
      |)
      |SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
      |       (p.t - c.t) // 1000000 AS lag_s
      |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.t <= p.t AND c.t >= p.t - 1800000000
      |ORDER BY p_id, c_id""".stripMargin

  /** X5: stream-static join — the reference broadcasts its five static CSV
    * tables into the stream operators (FriendRecommender.java:54-57, SURVEY
    * §1.3); here the event stream joins the static `customer` dimension
    * before a watermarked tumbling aggregation: revenue per (hour, market
    * segment). Deliberately NO explicit broadcast hint: `customer` grows
    * with SF, so the hint would be exactly the unbounded-broadcast class
    * `BroadcastContract` exists to kill. The planner size-bounds the choice
    * instead — below `autoBroadcastJoinThreshold` it broadcasts (the
    * reference's closure-shipping behavior, free at dim scale); above it
    * the static side shuffles per micro-batch, which is the plan you want
    * when the dim is genuinely large. */
  def x5_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "30 minutes")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           (floor(sum(col("value").cast("decimal(18,6)")).cast("double") * 100.0 + 0.5)
             / 100.0).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
              col("c_mktsegment"), col("n"), col("sum_value"))
    runToMemory(agg, OutputMode.Complete(), "x5_stream_static_join")
      .orderBy("win_start", "c_mktsegment")
  }

  val x5Sql: String =
    """SELECT floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT AS win_start,
      |       c_mktsegment, count(*) AS n,
      |       floor(sum(CAST(value AS DECIMAL(18,6)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  case class TkEv(event_id: Long, ts: java.sql.Timestamp, event_type: String,
                  arrival_s: Long)
  case class TkState(counts: Map[String, Long])
  case class TkOut(win_start: Long, rank: Long, event_type: String, n: Long)

  /** X18: streaming per-window top-k (W11's twin) — the leaderboard
    * computed ONLINE: per-window counts accumulate in keyed state and the
    * ranked top-3 is emitted exactly once, when the event-time timer fires
    * as the watermark passes the window's end. This is the classic
    * "windowed top-k with timers" shape (the reference's W7 top-5 finisher
    * runs on Flink window close the same way): rank is not a streamable
    * relational op, so the finisher lives in `flatMapGroupsWithState`
    * keyed by window start, and emission-on-timer guarantees append-mode
    * exactly-once per window.
    *
    * The jittered replay's arrival skew (< 30 min) stays inside the
    * watermark delay, so when the timer fires every one of the window's
    * events has been folded into state — the emitted ranking is the exact
    * batch result, which is why w11's oracle applies verbatim. State is
    * bounded: one live map of (#event-types) entries per OPEN window
    * (watermark evicts via the timer path); at 100 TB the key space is
    * open windows × types, independent of corpus size. */
  def x18_stream_window_topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val winMs = 6L * 3600 * 1000
    val ds = replayStream(s, dir, "events_replay_topk", Seq("event_type"))
      .select(col("event_id"), col("ts"), col("event_type"), col("arrival_s"))
      .withWatermark("ts", "30 minutes")
      .as[TkEv]
    val out = ds.groupByKey(e => if (e.event_id < 0) -1L else e.ts.getTime / winMs)
      .flatMapGroupsWithState[TkState, TkOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, it: Iterator[TkEv], state: GroupState[TkState]) =>
          if (key < 0) { it.foreach(_ => ()); Iterator.empty } // sentinel group
          else if (state.hasTimedOut) {
            val counts = state.get.counts
            state.remove()
            counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(3)
              .iterator.zipWithIndex.map { case ((t, n), i) =>
                TkOut(key * winMs / 1000, (i + 1).toLong, t, n) }
          } else {
            val st = state.getOption.getOrElse(TkState(Map.empty))
            val merged = it.foldLeft(st.counts) { (m, e) =>
              m + (e.event_type -> (m.getOrElse(e.event_type, 0L) + 1L)) }
            state.update(TkState(merged))
            // fire once the watermark passes the window end; any event of
            // this window arriving now proves watermark < its ts < winEnd,
            // so the timestamp is always legally in the future
            state.setTimeoutTimestamp((key + 1) * winMs)
            Iterator.empty
          }
      }
    runToMemory(out.toDF(), OutputMode.Append(), "x18_stream_window_topk")
      .orderBy("win_start", "rank")
  }

  case class AdmitOut(event_id: Long, user_id: Long, admit_seq: Long)
  case class AdmitState(admitted: Long)

  /** X19: streaming per-key ADMISSION QUOTA — the rate-limiting /
    * per-customer-cap operator every event-ingest front door runs (API
    * quotas, bot throttling, per-tenant sampling budgets): each user's
    * first Q events in (event-time, event_id) order are admitted with
    * their admission index; everything after the quota is dropped at the
    * door. The batch twin of the admission decision is a per-stratum order
    * statistic (t13's quota sampling); here the decision is made ONLINE
    * with O(1) state per key — a single admitted-count `ValueState` — so
    * the operator never buffers, sorts, or re-reads history the way the
    * batch window does.
    *
    * Scale: one shuffle on the key, a few bytes of state per user in the
    * state store, per-event O(1) work. In production the counter would
    * carry a `ProcessingTimeTimeout` (or a windowed key) to expire idle
    * tenants; the bounded replay keeps `NoTimeout` so the final state
    * equals the batch order statistic the oracle computes. */
  def x19_stream_admission(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Q = 5L
    val ds: Dataset[Ev] = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), lit(0.0).as("value"))
      .as[Ev]
    runToMemory(admissionStateful(ds, Q).toDF(), OutputMode.Append(), "x19_stream_admission")
      .orderBy("event_id")
  }

  /** The x19 stateful core, shared with `StreamingSpec`'s cross-trigger
    * test — the admitted-count `ValueState` must carry across micro-batches
    * so a key's quota is enforced globally, not per trigger. */
  def admissionStateful(ds: Dataset[Ev], q: Long): Dataset[AdmitOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[AdmitState, AdmitOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[Ev], state: GroupState[AdmitState]) =>
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          val outs = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
            .flatMap { e =>
              if (n < q) { n += 1; Some(AdmitOut(e.event_id, e.user_id, n)) }
              else None
            }
          state.update(AdmitState(n))
          outs.iterator
      }
  }

  val x19Sql: String =
    """SELECT event_id, user_id,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY epoch_ns(ts) // 1000, event_id) AS admit_seq
      |FROM events
      |QUALIFY admit_seq <= 5
      |ORDER BY event_id""".stripMargin

  /** The admission counter on the `transformWithState` API — x19's machine
    * with a named `ValueState` handle (RocksDB-mandatory), the modern state
    * API twin the x2/x9 pair established for running sums. */
  private class AdmissionProcessor(q: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, AdmitOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("admitted",
        Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AdmitOut] = {
      var n = if (st.exists()) st.get() else 0L
      val outs = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).flatMap { e =>
        if (n < q) { n += 1; Some(AdmitOut(e.event_id, e.user_id, n)) }
        else None
      }
      st.update(n)
      outs.iterator
    }
  }

  /** X21: the admission quota via `transformWithState` — shares x19's
    * oracle (identical admission decisions), runs on the RocksDB provider
    * TWS needs ([[runToMemory]] picks it from the plan). */
  def x21_tws_admission(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[Ev] = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), lit(0.0).as("value"))
      .as[Ev]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new AdmissionProcessor(5L),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
    runToMemory(out.toDF(), OutputMode.Append(), "x21_tws_admission")
      .orderBy("event_id")
  }

  case class DocTok(doc_id: Long, lang: String, n_tok: Long)
  case class PackOut(doc_id: Long, lang: String, off: Long, chunk_id: Long)

  /** X20: the streaming TOKENIZER FEED — t19's sequence packing run online:
    * documents arrive as an unbounded stream and each is assigned its
    * per-language shard placement (global token offset + 128-token chunk
    * id) the moment it arrives, from a single running-offset `ValueState`
    * per language. This is the front half of a streaming training-data
    * loader: the batch job (t19) rebuilds the manifest from scratch with a
    * corpus-wide prefix sum; the online op EXTENDS it in O(1) state and
    * O(1) work per document — no re-scan, no re-sort, the same numbers.
    * Keyed by language (t19 packs one global stream; per-language feeds are
    * what a mixture-weighted loader actually consumes).
    *
    * Bounded-trigger contract: the `it.toSeq.sortBy` below buffers ONE
    * language's slice of ONE micro-batch on one task — safe only because
    * trigger size is bounded at the source (`docsStream` caps files per
    * trigger; a production deployment caps bytes/rows per trigger the same
    * way, e.g. `maxFilesPerTrigger`/`maxBytesPerTrigger`), so the buffer is
    * O(trigger/|langs|), never O(corpus). Parallelism is bounded by the
    * number of languages — inherent to the per-language running offset
    * (same sequential-state class as the reference's global signature,
    * AnomalousUserDetector.java:160-185): each language's offset chain is a
    * strict serial dependency however many executors exist. The in-batch
    * sort is doc_id-deterministic so replay/retry emits identical offsets. */
  def x20_stream_packing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = docsStream(s, dir)
      .select(col("doc_id"), col("lang"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .as[DocTok]
    val out = ds.groupByKey(_.lang)
      .flatMapGroupsWithState[Long, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[DocTok], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val outs = it.toSeq.sortBy(_.doc_id).map { d =>
            val mine = off
            off += d.n_tok
            PackOut(d.doc_id, d.lang, mine, mine / 128L)
          }
          state.update(off)
          outs.iterator
      }
    runToMemory(out.toDF(), OutputMode.Append(), "x20_stream_packing")
      .orderBy("doc_id")
  }

  val x20Sql: String =
    """SELECT doc_id, lang,
      |  coalesce(sum(len(string_split(text, ' '))) OVER (PARTITION BY lang
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0)::BIGINT AS off,
      |  (coalesce(sum(len(string_split(text, ' '))) OVER (PARTITION BY lang
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) // 128)::BIGINT AS chunk_id
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** X24: t23's sliding-window chunker ONLINE — documents stream in and
    * each emits its chunk manifest (chunk_id, token span, md5 fingerprint)
    * the moment it arrives. Deliberately the STATELESS end of the streaming
    * spectrum: chunk boundaries depend only on the document itself, so the
    * whole op is a per-row generator (`sequence` + `explode` + `slice`)
    * with no state store, no watermark, no shuffle — the plan a streaming
    * RAG ingester wants, since it scales with input rate alone. Shares
    * t23's oracle verbatim (same rows, batch or online). */
  def x24_stream_chunking(s: SparkSession, dir: String): DataFrame = {
    val W = 64L
    val S = 48L
    val tk = split(col("text"), " ")
    val out = docsStream(s, dir)
      .select(col("doc_id"), col("lang"), tk.as("tk"),
              size(tk).cast("long").as("n_tok"))
      .select(col("doc_id"), col("lang"), col("tk"), col("n_tok"),
        explode(sequence(lit(0L), greatest(col("n_tok") - 1, lit(0L)),
                         lit(S))).as("tok_start"))
      .filter(col("tok_start") < col("n_tok"))
      .withColumn("tok_len", least(lit(W), col("n_tok") - col("tok_start")))
      .select(col("doc_id"), col("lang"),
              (col("tok_start") / S).cast("long").as("chunk_id"),
              col("tok_start"), col("tok_len"),
              md5(concat_ws(" ",
                slice(col("tk"), (col("tok_start") + 1).cast("int"),
                      col("tok_len").cast("int")))).as("chunk_hash"))
    runToMemory(out, OutputMode.Append(), "x24_stream_chunking")
      .orderBy("doc_id", "chunk_id")
  }

  case class IncrIn(doc_id: Long, h: String, base_id: Option[Long])
  case class IncrOut(doc_id: Long, status: String, dup_of: Option[Long])

  /** X22: d12's incremental dedup ONLINE — the ingest-side twin: arriving
    * delta documents are classified the moment they land, against (a) the
    * SETTLED corpus via a stream-static left join on the base fingerprint
    * aggregate (stateless, re-planned per micro-batch — like x5, no
    * broadcast hint: the planner size-bounds the dim here, and at 100 TB
    * the same plan shuffle-joins against the base digest table) and (b)
    * the delta seen SO FAR via one first-arrival `ValueState` per content
    * hash — O(1) state per distinct hash, the same admission discipline as
    * x19. Batch d12 rebuilds the classification corpus-wide; this extends
    * it per document with no re-scan — identical final rows, shared
    * oracle. The content key is d1's family-wide PREFIX digest
    * `md5(text[1..64])` (a deliberate admission convention — full-text
    * equality is the near-dup machinery's job; see d12's scaladoc). */
  def x22_stream_incr_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseMin = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("base_id"))
    val in = docsStream(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("h"))
      .join(baseMin, Seq("h"), "left_outer")
      .select(col("doc_id"), col("h"), col("base_id"))
      .as[IncrIn]
    val out = in.groupByKey(_.h)
      .flatMapGroupsWithState[Long, IncrOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[IncrIn], state: GroupState[Long]) =>
          var first = state.getOption
          val outs = it.toSeq.sortBy(_.doc_id).map { r =>
            r.base_id match {
              case Some(b) => IncrOut(r.doc_id, "dup_of_base", Some(b))
              case None => first match {
                case Some(f) => IncrOut(r.doc_id, "dup_in_delta", Some(f))
                case None =>
                  first = Some(r.doc_id); IncrOut(r.doc_id, "unique", None)
              }
            }
          }
          first.foreach(state.update)
          outs.iterator
      }
    runToMemory(out.toDF(), OutputMode.Append(), "x22_stream_incr_dedup")
      .orderBy("doc_id")
  }

  /** One pre-joined candidate row of the x36 media ingest: a delta
    * asset's digest + exact-tier base match, and (exploded) one settled
    * band-bucket candidate with its verified Hamming distance. */
  case class MediaCand(doc_id: Long, h: String, base_id: Option[Long],
                       cand_id: Option[Long], hamming: Option[Long])
  case class MediaOut(doc_id: Long, status: String, dup_of: Option[Long],
                      hamming: Option[Long])

  /** The x36 stateful classification — keyed by content digest `h`, one
    * first-arrival `ValueState` per digest (x22's admission discipline);
    * factored so `StreamingSpec` can drive the tier precedence across
    * engineered triggers. Per doc (its candidate rows all land in the
    * arrival trigger): exact settled match → `dup_of_base`; earlier
    * arrival with the same digest → `dup_in_delta`; else best settled
    * perceptual partner (min cand_id at Hamming ≤ 3) → `neardup_of_base`;
    * else `unique` — m9's precedence exactly, with the doc claiming the
    * digest's first-arrival slot regardless of its perceptual verdict
    * (m9's delta_first is digest-level, not status-level). */
  private[graft] def mediaIngestStateful(ds: Dataset[MediaCand]): Dataset[MediaOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.h)
      .flatMapGroupsWithState[Long, MediaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[MediaCand], state: GroupState[Long]) =>
          var first = state.getOption
          val outs = it.toSeq.groupBy(_.doc_id).toSeq.sortBy(_._1)
            .map { case (id, rows) =>
              val near = rows.flatMap(r => r.cand_id.zip(r.hamming))
                .filter(_._2 <= 3L).sortBy(_._1).headOption
              rows.head.base_id match {
                case Some(b) => MediaOut(id, "dup_of_base", Some(b), None)
                case None =>
                  val out = first match {
                    case Some(f) => MediaOut(id, "dup_in_delta", Some(f), None)
                    case None => near match {
                      case Some((c, hm)) =>
                        MediaOut(id, "neardup_of_base", Some(c), Some(hm))
                      case None => MediaOut(id, "unique", None, None)
                    }
                  }
                  if (first.isEmpty) first = Some(id)
                  out
              }
            }
          first.foreach(state.update)
          outs.iterator
      }
  }

  case class MediaHashed(doc_id: Long, h: String, phash: Long, has_ph: Boolean)

  /** X36: m9's MEDIA-INGEST INCREMENT ONLINE — the write-path twin that
    * closes the online loop for the media family the way x34 did for
    * vectors and x22 for text: arriving delta assets classify AT LANDING
    * against the warm settled artifacts (m9's digest table aggregated to
    * its canonical-min form and the 4×16 phash band index, both
    * stream-static join sides — the unbounded settled corpus is never
    * broadcast and never re-scanned beyond the bucket-matched band rows),
    * plus one first-arrival `ValueState` per content digest for
    * within-delta exact dups. The digest and perceptual hash are per-row
    * computations on the stream (a stateless typed map — the mapPartitions
    * codec shape at ingest rate); each asset's ≤ 4 band probes explode
    * BEFORE the stateful operator so the per-digest group reduces its own
    * candidate rows in-trigger.
    *
    * Delegation contract (x30 → x33's pattern, stated rather than
    * hidden): within-increment PERCEPTUAL pairs are not matched online —
    * that tier needs per-band-bucket state feeding a second per-doc
    * reduction, an unsupported stateful-operator chain — so a delta asset
    * whose only near-partner is an earlier delta arrival lands `unique`
    * here and the nightly batch m9 sweep reclassifies it
    * (`neardup_in_delta`). The oracle is m9's with the partner space
    * restricted to settled — exactly that contract. In-order replay
    * (doc_id order, x22's contract) makes first-arrival ≡ m9's
    * digest-level delta_first. */
  case class DecontamIn(train_doc: Long, eval_doc: Long)
  case class DecontamOut(train_doc: Long, eval_doc: Long, n_shared: Long)

  /** X37: c9's BLOOM-PRUNED DECONTAMINATION ONLINE — the ingest-time
    * contamination gate: training documents arrive as traffic and each is
    * checked against the frozen eval suite within its arrival trigger,
    * the deployment shape of "never let an eval-overlapping doc into the
    * corpus" (vs c9/t14's nightly batch sweep).
    *
    * Composition mirrors the batch operator stage-for-stage, under the
    * established streaming disciplines:
    *  1. The eval-suite bloom is BUILT OFFLINE batch-side and folded into
    *     the probe as a binary LITERAL (x34's frozen-artifact rule via
    *     the sanctioned `boundedCollect` — the sketch is ONE row by
    *     aggregation, a few MB by sizing): the stream-side prune is a
    *     pure per-row codegen'd expression — no state store, no
    *     per-trigger rebuild, nothing keyed.
    *  2. Survivors exact-verify through a stream-static equi-join on the
    *     gram key against the eval gram index (never broadcast — t14's
    *     scale note), so false positives cost join probes, never rows in
    *     the result.
    *  3. Per-pair counts are an in-trigger gather (x27/x28's discipline):
    *     every gram row of a training doc derives from its one arriving
    *     row through stateless ops, so a doc's rows never span triggers;
    *     group state is declared but never written.
    *
    * Emits t14/c9's exact relation — shared oracle (final-value
    * fidelity). */
  def x37_stream_decontam(s: SparkSession, dir: String): DataFrame = {
    runToMemory(x37Out(s, dir).toDF(), OutputMode.Append(), "x37_stream_decontam")
      .orderBy("train_doc", "eval_doc")
  }

  /** x37's full pre-sink pipeline — factored so `StreamingSpec` can assert
    * the structural contract (exactly one state operator; all pruning is
    * per-row expressions and stream-static joins) on the running query. */
  private[graft] def x37Out(s: SparkSession, dir: String): Dataset[DecontamOut] =
    x37Gate(s, dir)(docsStream(s, dir))

  /** x37's frozen eval-suite sketch, sized from the SAME conf knobs as the
    * batch gate (c9's `Pipeline.bloomDecontamSizing` — one sizing source,
    * both paths): a retune moves both gates' FP rates
    * together and never correctness, since survivors exact-verify on both
    * paths. Factored so `StreamingSpec` can pin the knob wiring (the
    * serialized sketch size tracks the bits knob). */
  private[graft] def decontamSketch(s: SparkSession,
                                    ev: DataFrame): Array[Byte] = {
    val (items, bits) = graft.queries.Pipeline.bloomDecontamSizing(s)
    graft.plans.BroadcastContract.boundedCollect(
      ev.agg(graft.functions.bloom_filter_agg(xxhash64(col("gram")),
        lit(items), lit(bits)).as("bf")),
      "frozen decontam bloom sketch: one row by aggregation")
      .head.getAs[Array[Byte]](0)
  }

  /** The gate as a TRANSFORM over any document relation (batch or stream)
    * — factored so `CheckpointRestartSpec` can drive the same pipeline
    * from a chunked checkpointed source and prove the contamination
    * verdicts are exactly-once under kill/restart. */
  private[graft] def x37Gate(s: SparkSession, dir: String)(
      docsIn: DataFrame): Dataset[DecontamOut] = {
    import s.implicits._
    val N = 3
    // DISTINCT (gram, eval_doc): docGramsStr emits one row per gram
    // OCCURRENCE, and an eval doc that repeats a shared trigram would
    // otherwise join a train gram more than once — the in-trigger gather
    // counts join rows, so without the dedup n_shared would exceed t14's
    // count(DISTINCT gram) on ordinary text
    val ev = graft.queries.TextAnalysis.docGramsStr(s, dir, N)
      .filter(col("doc_id") % 100 === 0)
      .select(col("gram"), col("doc_id").as("eval_doc"))
      .distinct()
    val sketch = decontamSketch(s, ev)
    val gramsExpr = expr(
      s"transform(sequence(1, size(split(text, ' ')) - ${N - 1}), " +
      s"i -> concat_ws(' ', slice(split(text, ' '), i, $N)))")
    val cand = docsIn
      .filter(col("doc_id") % 100 =!= 0)
      .filter(size(split(col("text"), " ")) >= N)
      .select(col("doc_id").as("train_doc"),
              explode(array_distinct(gramsExpr)).as("gram"))
      .filter(graft.functions.might_contain(lit(sketch), xxhash64(col("gram"))))
      .join(ev, Seq("gram")) // stream-static exact verify
      .select(col("train_doc"), col("eval_doc")).as[DecontamIn]
    val out = cand.groupByKey(_.train_doc)
      .flatMapGroupsWithState[Long, DecontamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (td: Long, it: Iterator[DecontamIn], _: GroupState[Long]) =>
          // the train side is distinct per (train_doc, gram) by
          // array_distinct AND the static side is distinct per
          // (gram, eval_doc), so each shared gram contributes exactly one
          // join row and per-eval-doc row counts ARE t14's
          // count(DISTINCT gram) even when either doc repeats a gram
          it.toSeq.groupBy(_.eval_doc).toSeq.sortBy(_._1)
            .map { case (ed, rs) => DecontamOut(td, ed, rs.size.toLong) }
            .iterator
      }
    out
  }

  def x36_stream_media_ingest(s: SparkSession, dir: String): DataFrame = {
    runToMemory(mediaIngestStateful(x36Cands(s, dir)).toDF(), OutputMode.Append(),
        "x36_stream_media_ingest")
      .orderBy("doc_id")
  }

  /** The x36 pre-state pipeline (digest/phash per row, exact-tier join,
    * band-probe explosion, settled candidate join) — factored so
    * `StreamingSpec` can assert the structural single-state-operator
    * contract on the running query. */
  private[graft] def x36Cands(s: SparkSession, dir: String): Dataset[MediaCand] = {
    import s.implicits._
    val M = graft.queries.Multimodal
    val settled = M.assets(s, dir).filter(col("doc_id") % 10 =!= 0)
    val baseMin = settled.select(col("doc_id"), md5(col("payload")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("base_id"))
    val bandS = M.bandsOf(M.phash64Of(s, settled))
      .select(col("band"), col("key"), col("doc_id").as("cand_id"),
              col("phash").as("pb"))
    val hashed = M.assetsOf(docsStream(s, dir).filter(col("doc_id") % 10 === 0))
      .withColumn("h", md5(col("payload")))
      .select(col("doc_id"), col("h"), col("payload")).as[(Long, String, Array[Byte])]
      // full object paths inside the lambda: a captured local alias of the
      // Multimodal module is not serializable; the static MODULE$ access is
      .mapPartitions(_.map { case (id, h, payload) =>
        val ok = payload.nonEmpty && payload.forall(_ >= 1)
        MediaHashed(id, h,
          if (ok) graft.queries.Multimodal.phash64(
            graft.queries.Multimodal.Asset(id, "", payload,
              payload.length.toLong, "")).phash
          else 0L, ok)
      }).toDF()
    val cands = hashed
      .join(baseMin, Seq("h"), "left_outer")
      .select(col("doc_id"), col("h"), col("base_id"), col("phash"),
        posexplode_outer(when(col("has_ph"),
          array((0 until 4).map(b =>
            shiftright(col("phash"), b * 16).bitwiseAND(lit(65535L))): _*)))
          .as(Seq("band", "key")))
      .join(bandS, Seq("band", "key"), "left_outer")
      .select(col("doc_id"), col("h"), col("base_id"), col("cand_id"),
        when(col("cand_id").isNotNull,
          bit_count(col("phash").bitwiseXOR(col("pb"))).cast("long")).as("hamming"))
      .as[MediaCand]
    cands
  }

  case class ChunkIn(doc_id: Long, chunk_id: Long, chunk_hash: String)
  case class ChunkOut(doc_id: Long, chunk_id: Long, chunk_hash: String,
                      canon_doc: Long, canon_chunk: Long, is_dup: Boolean)

  /** X25: t24's chunk-level dedup ONLINE — the chunk manifests of x24
    * keyed by content hash, with ONE first-arrival `ValueState` per
    * distinct chunk hash (x22's admission discipline at chunk
    * granularity): the first (doc_id, chunk_id) to carry a hash becomes
    * canonical; every later arrival is marked dup-of-first the moment it
    * lands. O(1) state per distinct chunk, no re-scan — the online
    * half of a RAG index's ingest dedup. Oracle = t24's canonical-min
    * columns (n_copies is inherently retrospective — a row emitted at
    * arrival time cannot know future copies — so the online twin emits
    * the canonical verdict only; in-batch arrivals sort by (doc_id,
    * chunk_id), making first-arrival ≡ canonical-min). */
  def x25_stream_chunk_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 64L
    val S = 48L
    val tk = split(col("text"), " ")
    val in = docsStream(s, dir)
      .select(col("doc_id"), tk.as("tk"), size(tk).cast("long").as("n_tok"))
      .select(col("doc_id"), col("tk"), col("n_tok"),
        explode(sequence(lit(0L), greatest(col("n_tok") - 1, lit(0L)),
                         lit(S))).as("tok_start"))
      .filter(col("tok_start") < col("n_tok"))
      .withColumn("tok_len", least(lit(W), col("n_tok") - col("tok_start")))
      .select(col("doc_id"),
              (col("tok_start") / S).cast("long").as("chunk_id"),
              md5(concat_ws(" ",
                slice(col("tk"), (col("tok_start") + 1).cast("int"),
                      col("tok_len").cast("int")))).as("chunk_hash"))
      .as[ChunkIn]
    val out = in.groupByKey(_.chunk_hash)
      .flatMapGroupsWithState[(Long, Long), ChunkOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, it: Iterator[ChunkIn], state: GroupState[(Long, Long)]) =>
          var first = state.getOption
          val outs = it.toSeq.sortBy(c => (c.doc_id, c.chunk_id)).map { c =>
            first match {
              case Some((fd, fc)) =>
                ChunkOut(c.doc_id, c.chunk_id, h, fd, fc, is_dup = true)
              case None =>
                first = Some((c.doc_id, c.chunk_id))
                ChunkOut(c.doc_id, c.chunk_id, h, c.doc_id, c.chunk_id, is_dup = false)
            }
          }
          first.foreach(state.update)
          outs.iterator
      }
    runToMemory(out.toDF(), OutputMode.Append(), "x25_stream_chunk_dedup")
      .orderBy("doc_id", "chunk_id")
  }

  val x25Sql: String =
    s"""WITH chunks AS (
      |${graft.queries.TextAnalysis.t23Sql}
      |)
      |SELECT doc_id, chunk_id, chunk_hash,
      |  first_value(doc_id) OVER o AS canon_doc,
      |  first_value(chunk_id) OVER o AS canon_chunk,
      |  (doc_id <> first_value(doc_id) OVER o
      |   OR chunk_id <> first_value(chunk_id) OVER o) AS is_dup
      |FROM chunks
      |WINDOW o AS (PARTITION BY chunk_hash ORDER BY doc_id, chunk_id)
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** X26: ONLINE ANN SERVING — s3's IVF cell search with the query side
    * as an unbounded stream: query vectors arrive, route to their nearest
    * coarse cell, and are answered with their exact top-3 from that cell
    * of the STATIC corpus — the "vector search endpoint" shape, where the
    * index is a settled relation and queries are traffic.
    *
    * This operator routes on the LABEL centroids, not the trained coarse
    * router that s22 serves on, because its contract is bit-for-bit
    * equality with s3 (it shares `s3Sql`). The serving-posture online ANN
    * path is [[x38_stream_sq8_serve]], which routes on the trained cells at
    * the `Similarity.ServingNprobe` width. `StreamingSpec` ("one serving
    * generation") pins both: x38 routes on s22's trained cells while
    * x26 ≡ s3.
    *
    * The three scale decisions:
    *  1. ROUTING is a pure per-row expression: the per-label centroid
    *     table (one row per label, structurally bounded) is materialized
    *     via `BroadcastContract.boundedCollect` into one literal array and
    *     routed by `Similarity.nearest` — the reference's
    *     replicate-bounded-state-to-all-instances move (SURVEY §2.2 P7);
    *     no per-row join fan-out, no stream-side aggregation for routing.
    *     The expression's size does not grow with the label count.
    *  2. The cell scan is a stream-static EQUI join on the cell key — the
    *     partition-pruned ANN shape; each arriving query touches one
    *     cell's rows, never the corpus.
    *  3. Per-query state is O(k): the running top-3 lives in a mergeable
    *     bounded [[graft.functions.TopKAgg]] aggregation (complete mode —
    *     a serving endpoint's answer table), NOT a window sort; a
    *     million-row cell leaves exactly 3 rows of store state per query.
    *
    * Exactness: routing and scoring reuse the oracle's decimal folds
    * (`Similarity.dot` against the byte-identical `labelCentroids`),
    * argmax ties break to the smaller label and top-k boundary ties to the
    * smaller vec_id — bit-for-bit s3's ranking; shares `s3Sql`. */
  def x26_stream_ann_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.Similarity
    val cents = graft.plans.BroadcastContract.boundedCollect(
        Similarity.labelCentroids(s, dir), "IVF routing table: one row per label")
      .map(r => (r.getInt(0).toLong, r.getSeq[Double](1))).toSeq
    val best = element_at(Similarity.nearest(col("qemb"), Similarity.centroidLit(cents), 1,
      Similarity.negDot), 1)
    val routed = embStream(s, dir)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
      .withColumn("cell", best.getField("cluster").cast("int"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("n_id"), col("label").as("cell"),
              col("embedding").as("ne"))
    val topk = graft.functions.TopKAgg.topK(3)
    val answers = routed.join(corpus, Seq("cell")) // stream-static, cell-pruned
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"),
              graft.queries.QUtil.round4(Similarity.dot(col("ne"), col("qemb"))).as("cosine"),
              col("n_id"))
      .groupBy(col("q_id"), col("cell"))
      .agg(topk(col("cosine"), col("n_id")).as("top"))
    runToMemory(answers, OutputMode.Complete(), "x26_stream_ann_topk")
      .select(col("q_id"), col("cell"),
              posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), col("cell"), col("e._2").as("n_id"),
              col("e._1").as("cosine"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** X38: ONLINE IVF×SQ8 SERVING — s22's trained-router int8 serve with
    * the query side as traffic, closing the online loop for s24's
    * router decision the way x26 did for the label-celled exact scan:
    * query vectors arrive, quantize and route PER ROW against two frozen
    * artifacts, and are answered from the probed cells of the STATIC int8
    * index.
    *
    * Composition, stage for stage:
    *  1. BOTH frozen artifacts are structurally bounded and fold in via
    *     the sanctioned `boundedCollect`: the k-row TRAINED centroid table
    *     becomes a per-row top-p cell expression (`Similarity.nearest`
    *     under the exact sqDist — the batch router's own function), and
    *     the 1-row per-dim scale array becomes the per-row int8 quantize
    *     (`zip_with` against a literal — byte-identical codes to
    *     [[graft.queries.Similarity]]'s corpus encoder).
    *  2. The cell scan is a stream-static equi-join on the cluster key
    *     against the settled code+raw table — each query touches its p
    *     probed cells, never the corpus (x26's pruning discipline on the
    *     trained router).
    *  3. Per-query state is O(5): the served list lives in the bounded
    *     [[graft.functions.TopKPayloadAgg]] (complete mode — the serving
    *     endpoint's answer table), carrying each neighbor's cell and
    *     integer score next to the cosine it ranks by.
    *
    * Depth posture, stated not hidden (the x30/x33 delegation
    * discipline): the online form serves the exact top-5 BY COSINE of the
    * probed cells — the depth-∞ posture — because the batch leg's
    * iscore-shortlist → re-rank is a second ranking stage (an unsupported
    * chained stateful operator online). s23's grid measured depth as a
    * no-op on the routed leg (every (p, d) row equals (p, 10) at both
    * SFs), so the two postures coincide on real data, and the oracle is
    * exact by construction for THIS form: [[graft.queries.Similarity
    * .s22SqlAt]] with the shortlist depth at corpus scale. */
  def x38_stream_sq8_serve(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.Similarity
    val probes = Similarity.ServingNprobe
    val cents = graft.plans.BroadcastContract.boundedCollect(
        Similarity.sq8TrainedCentroids(s, dir),
        "trained coarse router: k rows by construction")
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val scales = graft.plans.BroadcastContract.boundedCollect(
        Similarity.sq8Scales(s, dir),
        "per-dimension SQ8 scales: one row by aggregation")
      .head.getSeq[Double](0)
    val routeCells = transform(
      Similarity.nearest(col("qemb"), Similarity.centroidLit(cents), probes,
        Similarity.sqDist), c => c.getField("cluster"))
    // per-row int8 quantize against the frozen scales (the corpus
    // encoder's exact op sequence)
    val qq8 = zip_with(col("qemb"), typedlit(scales), (x, sc) =>
      when(sc === lit(0.0), lit(0.0))
        .otherwise(greatest(lit(-127.0), least(lit(127.0),
          floor(x.cast("double") * lit(127.0) / sc + lit(0.5)))))
        .cast("tinyint"))
    // the settled index: int8 codes + raw vectors + norms, keyed by cell
    val statics = Similarity.sq8Quantized(s, dir)
      .join(Similarity.sq8TrainedAssign(s, dir), Seq("vec_id"))
      .join(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
            Seq("vec_id"))
      .select(col("vec_id").as("n_id"), col("cluster"), col("qvec").as("nq"),
              col("embedding").as("ne"),
              Similarity.dot(col("embedding"), col("embedding")).as("n2"))
    val q = embStream(s, dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
      .withColumn("qq8", qq8)
      .withColumn("qn2", Similarity.dot(col("qemb"), col("qemb")))
      .withColumn("cluster", explode(routeCells))
    val scored = q.join(statics, Seq("cluster")) // stream-static, cell-pruned
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"),
        graft.queries.QUtil.round4(
          Similarity.dot(col("ne"), col("qemb"))
            / sqrt(col("qn2") * col("n2"))).as("cosine"),
        col("n_id"), col("cluster"),
        graft.functions.dot_i8(col("nq"), col("qq8")).as("iscore"))
    val topk = graft.functions.TopKAgg.topKPayload(5)
    val answers = scored.groupBy(col("q_id"))
      .agg(topk(col("cosine"), col("n_id"), col("cluster"), col("iscore")).as("top"))
    runToMemory(answers, OutputMode.Complete(), "x38_stream_sq8_serve")
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), col("e._3").as("cell"), col("e._2").as("n_id"),
              col("e._4").as("iscore"), col("e._1").as("cosine"),
              (col("pos") + 1).cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  case class GateIn(doc_id: Long, tag: String, other: Long,
                     predicted: String, quality: Double, n_tokens: Long)
  case class GateOut(doc_id: Long, verdict: String, dup_of: Option[Long],
                      lang: String, quality: Double, n_tokens: Long)

  /** X39: the RELEASE ADMISSION GATE ONLINE — c15's 'add' decision at
    * ingest time: each arriving delta document gets its admission verdict
    * against the FROZEN settled release artifacts within its trigger, the
    * deployment shape of "decide at the door, compact at night" (vs
    * c15's nightly batch fold). One verdict row per arriving doc,
    * attributed to the FIRST tier that blocks it (c7's funnel-attribution
    * discipline): `dup_settled` (an exact-digest partner already in the
    * settled corpus — d12's content-key tier, with the partner id; the
    * key is d1's family-wide PREFIX digest `md5(text[1..64])`, a
    * deliberate convention — full-text equality is the near-dup tier's
    * job, which is exactly the tier this gate delegates to the nightly
    * fold) →
    * `eval_doc` → `not_english` → `low_quality` → `contaminated` (x37's
    * bloom-pruned frozen-eval-gram machinery, t14's n ≥ 2 contract) →
    * `admit`, with the admitted doc's split assigned at the door (c11's
    * anchor hash — a just-admitted doc self-anchors by construction).
    *
    * Composition under the established streaming disciplines:
    *  1. quality, language, token count, and the content digest are PURE
    *     per-row expressions on the arriving row (t2/t3's exact factored
    *     op sequences — `qualityExpr`/`predictedExpr`);
    *  2. the two probes are stream-static equi-joins against frozen
    *     settled artifacts that are never broadcast: the settled digest
    *     index (digest → min settled doc_id) and the eval gram index
    *     behind x37's bloom literal;
    *  3. the verdict is ONE in-trigger gather (x37's discipline: every
    *     probe row derives from the doc's single arriving row, so a doc
    *     never spans triggers; group state declared, never written).
    *
    * Delegation contract (x30/x33/x36's pattern, stated not hidden): the
    * NEAR-dup tier is not decided online — MinHash banding needs the
    * corpus-derived shingle dictionary plus a per-doc signature reduction
    * BEFORE the candidate join, a second stateful stage feeding a third —
    * so a delta doc whose only blocker is a near-duplicate is admitted
    * here and the nightly c15 fold finalizes it (and all retires). The
    * oracle is the admission relation with exactly that tier absent on
    * both sides; the two-sided delegation gap vs c15's adds is
    * spec-pinned (every c15 add missing here has a settled digest
    * partner; every admit missing from c15 is a merged-component
    * non-representative). */
  def x39_stream_release_admission(s: SparkSession, dir: String): DataFrame = {
    val out = x39Out(s, dir).toDF()
      .withColumn("split", when(col("verdict") === "admit",
        graft.queries.Pipeline.splitOf(col("doc_id"))))
    runToMemory(out, OutputMode.Append(), "x39_stream_release_admission")
      .orderBy("doc_id")
  }

  /** x39's pre-sink pipeline — factored so `StreamingSpec` can assert the
    * structural contract (exactly one state operator) on the running
    * query. */
  private[graft] def x39Out(s: SparkSession, dir: String): Dataset[GateOut] =
    x39Gate(s, dir)(docsStream(s, dir))

  private[graft] def x39Gate(s: SparkSession, dir: String)(
      docsIn: DataFrame): Dataset[GateOut] = {
    import s.implicits._
    val N = 3
    // frozen settled artifacts — static sides, equi-joined, never broadcast
    val digS = Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)
      .groupBy(md5(substring(col("text"), 1, 64)).as("h"))
      .agg(min(col("doc_id")).as("base_id"))
    val ev = graft.queries.TextAnalysis.docGramsStr(s, dir, N)
      .filter(col("doc_id") % 100 === 0)
      .select(col("gram"), col("doc_id").as("eval_doc"))
      .distinct()
    val sketch = decontamSketch(s, ev)
    val withStats = docsIn.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"),
        graft.queries.TextAnalysis.qualityExpr.as("quality"),
        graft.queries.TextAnalysis.predictedExpr.as("predicted"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(substring(col("text"), 1, 64)).as("h"))
    // leg 1 — 'self': guarantees a verdict row even with zero probe hits
    val self = withStats.select(col("doc_id"), lit("self").as("tag"),
      lit(-1L).as("other"), col("predicted"), col("quality"), col("n_tokens"))
    // leg 2 — 'dup': the settled exact-digest probe (≤ 1 row per doc)
    val dup = withStats.select(col("doc_id"), col("h"))
      .join(digS, Seq("h"))
      .select(col("doc_id"), lit("dup").as("tag"), col("base_id").as("other"),
        lit("").as("predicted"), lit(0.0).as("quality"), lit(0L).as("n_tokens"))
    // leg 3 — 'cont': x37's bloom-pruned gram probe + exact verify
    val gramsExpr = expr(
      s"transform(sequence(1, size(split(text, ' ')) - ${N - 1}), " +
      s"i -> concat_ws(' ', slice(split(text, ' '), i, $N)))")
    val cont = withStats
      .filter(col("doc_id") % 100 =!= 0)
      .filter(size(split(col("text"), " ")) >= N)
      .select(col("doc_id"), explode(array_distinct(gramsExpr)).as("gram"))
      .filter(graft.functions.might_contain(lit(sketch), xxhash64(col("gram"))))
      .join(ev, Seq("gram"))
      .select(col("doc_id"), lit("cont").as("tag"), col("eval_doc").as("other"),
        lit("").as("predicted"), lit(0.0).as("quality"), lit(0L).as("n_tokens"))
    val probes = self.unionByName(dup).unionByName(cont).as[GateIn]
    probes.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Long, GateOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, it: Iterator[GateIn], _: GroupState[Long]) =>
          val rows = it.toSeq
          val st = rows.find(_.tag == "self").get
          val dupOf = rows.filter(_.tag == "dup").map(_.other).sorted.headOption
          // the train side is distinct per (doc, gram) by array_distinct
          // AND the static side is distinct per (gram, eval_doc), so row
          // counts per eval doc ARE t14's count(DISTINCT gram) — x37's
          // exact argument
          val contaminated = rows.filter(_.tag == "cont")
            .groupBy(_.other).exists(_._2.size >= 2)
          val verdict =
            if (dupOf.nonEmpty) "dup_settled"
            else if (id % 100 == 0) "eval_doc"
            else if (st.predicted != "en") "not_english"
            else if (st.quality < 0.5) "low_quality"
            else if (contaminated) "contaminated"
            else "admit"
          Iterator.single(GateOut(id, verdict,
            if (verdict == "dup_settled") dupOf else None,
            st.predicted, st.quality, st.n_tokens))
      }
  }

  case class QgIn(doc_id: Long, trusted: Boolean, bucket: String,
                  w: Option[Double])
  case class QgOut(doc_id: Long, trusted: Boolean, score: Double,
                   keep: Boolean)

  /** X40: c14's TRAINED QUALITY GATE ONLINE — the DCLM / FineWeb-Edu
    * deployment shape of this round's lead batch operator: the classifier
    * is TRAINED OFFLINE (c14's exact chain, staged per session via
    * [[graft.queries.Pipeline.c14Model]] — ONE model, both paths) and
    * arriving documents are scored and gated AS THEY LAND, completing the
    * train-offline/serve-at-the-door pairs (t26→x27, s22→x38, c9→x37).
    *
    * Composition under the established disciplines:
    *  1. the ≤ 257-row weight relation is a stream-static equi-join on
    *     the hashed bucket key (LEFT outer: an unweighted bucket's grams
    *     still count toward the doc's gram total n, contributing zero
    *     margin — exactly the batch INNER margin join + full-count
    *     labels.n semantics); bias and τ are 1-row frozen artifacts
    *     folded via the sanctioned `boundedCollect`;
    *  2. the per-doc margin is ONE in-trigger gather (x27's discipline:
    *     every gram row derives from the doc's single arriving row;
    *     group state declared, never written).
    *
    * EXACTNESS of the in-gather mirror (why online scores are bit-equal
    * to batch): every operand sits on the 1e-6 grid (x = round6(cnt/n)
    * replays the identical IEEE op sequence; w is grid-pinned by
    * training), both sides convert the product double through the
    * canonical shortest-string representation, and the mirror rounds to
    * scale 20 with HALF_UP — `Decimal(double).toPrecision`'s own default
    * mode — so the mirror equals Spark's DECIMAL(30,20) cast even when
    * rounding is REACHED (x·w near 1e-12 can carry a shortest
    * representation with > 20 fractional digits, so "the cast never
    * rounds" is a typical-case observation, not a guarantee — the mode
    * match is what makes the contract unconditional); decimal addition
    * is exact in any order, and the final `toDouble + bias` + round6 is
    * the batch margin op-for-op. Shares c14's oracle (final-value
    * fidelity). */
  def x40_stream_quality_gate(s: SparkSession, dir: String): DataFrame =
    runToMemory(x40Out(s, dir).toDF(), OutputMode.Append(), "x40_stream_quality_gate")
      .orderBy("doc_id")

  private[graft] def x40Out(s: SparkSession, dir: String): Dataset[QgOut] =
    x40Gate(s, dir)(docsStream(s, dir))

  private[graft] def x40Gate(s: SparkSession, dir: String)(
      docsIn: DataFrame): Dataset[QgOut] = {
    import s.implicits._
    val (_, _, w, bias, tau) = graft.queries.Pipeline.c14Model(s, dir)
    val biasV = graft.plans.BroadcastContract.boundedCollect(bias,
      "c14 bias: one row by aggregation").head.getDouble(0)
    val tauV = graft.plans.BroadcastContract.boundedCollect(tau,
      "c14 tau: one row over the bounded score grid").head.getLong(0)
    // c14's featurization VERBATIM — the shared helper, not a re-spelling
    // (the t2/t3 factoring discipline: one op sequence, two deployments)
    val grams = graft.queries.Pipeline.hashedGramBuckets(docsIn)
      .join(w, Seq("bucket"), "left_outer") // stream-static; never broadcast-hinted
      .select(col("doc_id"),
              col("source").isin("src0", "src1").as("trusted"),
              col("bucket"), col("w")).as[QgIn]
    grams.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Long, QgOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, it: Iterator[QgIn], _: GroupState[Long]) =>
          val rows = it.toSeq
          val n = rows.size.toDouble // = labels.n: EVERY gram counts
          val sd = rows.filter(_.w.isDefined).groupBy(_.bucket).toSeq
            .map { case (_, rs) =>
              // x = round6(cnt/n), the batch feature op-for-op; the
              // decimal product mirror never rounds (scaladoc argument)
              val x = math.floor(rs.size / n * 1000000.0 + 0.5) / 1000000.0
              // HALF_UP = Spark's Decimal.toPrecision default, so the
              // mirror matches the batch cast even in the rare case the
              // rounding is REACHED (see the scaladoc's exactness note)
              BigDecimal(x * rs.head.w.get).setScale(20,
                BigDecimal.RoundingMode.HALF_UP)
            }.sum
          val m = math.floor((sd.toDouble + biasV) * 1000000.0 + 0.5) / 1000000.0
          val si = math.floor(m * 1000000.0 + 0.5).toLong
          Iterator.single(QgOut(id, rows.head.trusted, m, si >= tauV))
      }
  }

  /** Thread-hoisted MD5 for the per-row ingest scorers: MessageDigest is
    * stateful (not shareable across threads) but digest(bytes) resets it,
    * so one instance per executor thread serves every row it processes —
    * the per-document instantiation was the measured allocation cost on
    * x41's hot path. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** byte → 2-hex-char bucket key, precomputed (one String per row beats a
    * format call per GRAM on the ingest path). */
  private val hexByte: Array[String] = Array.tabulate(256)(i => f"$i%02x")

  case class PlaceIn(doc_id: Long, stage: Long, n_tok: Long, base: Long)
  case class PlaceOut(doc_id: Long, stage: Long, off: Long, shard: Long)

  /** The frozen-classifier margin for one arriving document, shared by
    * x41's placement and x42's skew monitor (ONE op sequence at the door —
    * the hashedGramBuckets discipline): grams fold STRAIGHT into the
    * 256-way bucket counts (no materialized unigram++bigram Seq; one
    * thread-hoisted digest), then x40's decimal mirror
    * op-for-op (x = round6(cnt/n), HALF_UP double→DECIMAL(30,20) products,
    * exact BigDecimal addition in any order, round6(·+bias)) — bit-equal
    * to the batch fold by the x40 argument. Returns the margin's 1e-6
    * grid point, or None when no gram hits a weighted bucket (the batch
    * margin join's inner semantics). */
  private def frozenMarginSi(wMap: Map[String, Double], biasV: Double,
                             tk: Array[String]): Option[Long] = {
    val md = md5Local.get()
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    def add(g: String): Unit = {
      val b = hexByte(md.digest(g.getBytes("UTF-8"))(0) & 0xff)
      counts.update(b, counts.getOrElse(b, 0) + 1)
    }
    var i = 0
    while (i < tk.length) { add(tk(i)); i += 1 } // unigrams
    i = 1
    while (i < tk.length) { add(tk(i - 1) + " " + tk(i)); i += 1 } // bigrams
    // gram count = len + max(len-1, 0) — identical to the batch explode
    val n = (if (tk.length >= 2) 2 * tk.length - 1 else tk.length).toDouble
    val weighted = counts.iterator
      .flatMap { case (b, c) => wMap.get(b).map(wv => (c, wv)) }.toSeq
    if (weighted.isEmpty) None
    else {
      val sd = weighted.map { case (c, wv) =>
        val x = math.floor(c / n * 1000000.0 + 0.5) / 1000000.0
        BigDecimal(x * wv).setScale(20, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val m = math.floor((sd.toDouble + biasV) * 1000000.0 + 0.5) / 1000000.0
      Some(math.floor(m * 1000000.0 + 0.5).toLong)
    }
  }

  /** Index of the highest shipped stage whose boundary the score clears,
    * over the stage-sorted `(stage, min_si)` boundary array — by RAW
    * stage id (non-dense-safe: mirrors the oracle's max(b.stage) rule);
    * below every boundary → the lowest shipped stage. Takes the boundary
    * pairs alone, so x42 needs no dummy tail field to share it with x41. */
  private def stageIdx(bounds: Array[(Long, Long)], si: Long): Int = {
    var idx = -1
    var j = 0
    while (j < bounds.length) { if (bounds(j)._2 <= si) idx = j; j += 1 }
    if (idx >= 0) idx else 0
  }

  /** The x41/x42 oracle-equality precondition: those gates'
    * hash parity is load-bearing on [[docsStream]]'s one-file-per-trigger
    * convention delivering the WHOLE documents table in ONE micro-batch —
    * a multi-file table would interleave arrival order across triggers and
    * break the oracle's global doc_id prefix-sum spelling even though
    * per-stage offsets stay contiguous. Fail loudly at the contract
    * instead of as an opaque hash mismatch. */
  private def requireSingleDocsFile(dir: String, who: String): Unit = {
    val p = new java.io.File(graft.Tables.path(dir, "documents"))
    val ok = p.isFile || (p.isDirectory && {
      val parts = p.listFiles().filter(_.getName.endsWith(".parquet"))
      parts.length == 1
    })
    require(ok, s"$who's oracle parity requires the documents table to be " +
      s"a single parquet file (one micro-batch under maxFilesPerTrigger=1); " +
      s"found a multi-file layout at ${p.getPath}")
  }

  /** X41: SHARD PLACEMENT AT THE DOOR — c18's ingest-side twin, completing
    * the release funnel's online chain (x39 admits, x40 keeps, x41 PLACES):
    * each arriving document that clears the frozen per-row gates is
    * appended to its curriculum stage's shard tail the moment it lands,
    * emitting (doc_id, stage, off, shard) — the provisional placement a
    * streaming loader feed consumes between nightly rebuilds.
    *
    * Three frozen artifacts, all release-shipped and all structurally
    * bounded (x34's fold-to-literal rule):
    *  1. c14's model — but unlike x40's stateful in-trigger gather, the
    *     margin here is computed PER ROW with no state: the ≤ 256-entry
    *     weight relation folds into the closure of a stateless typed map
    *     (x36's class) that re-runs x40's decimal mirror op-for-op —
    *     same product set (distinct weighted buckets, x = round6(cnt/n)),
    *     each product double→DECIMAL(30,20) with HALF_UP (Spark's
    *     toPrecision mode), BigDecimal addition exact in any order, then
    *     round6(·+bias) — so online scores are bit-equal to the batch
    *     fold by the x40 argument verbatim. Legal to fold BECAUSE the
    *     weight space is hash-bounded, and necessary to keep the query at
    *     ONE stateful operator — a second margin gather before the offset
    *     state would chain two FMGWS stages, which structured streaming
    *     forbids. (A nested higher-order-function spelling was tried and
    *     rejected: `aggregate()` over distinct buckets re-inlines the
    *     md5 gram transform per bucket — measured O(256·n) md5 calls per
    *     doc, 500+ s at sf0.1 for a 24 s relation);
    *  2. the shipped curriculum's stage boundaries — stage s's minimum
    *     score grid point, a ≤ 10-row artifact of [[graft.queries.Pipeline
    *     .c17_curriculum]]; the arriving doc takes the HIGHEST stage whose
    *     boundary its score clears (c17's stages ascend with score, so the
    *     boundary array is monotone). Boundary TIES are the one stated
    *     divergence from batch: c17 splits an si-tie group across stages
    *     by exact rank, which no door decision can know — the threshold
    *     rule is the shipped serving contract and the oracle applies the
    *     SAME rule, so the relation is self-consistent;
    *  3. the shipped stage TAILS — per-stage settled token totals
    *     ([[graft.queries.Pipeline.c17_stage_budget]]'s rollup), the base
    *     each stage's running offset continues from (append-at-tail).
    *
    * The one stateful operator is x20's per-stage running token offset
    * (O(1) `ValueState` per stage, ≤ 10 keys, in-batch doc_id sort for
    * replay determinism). Gates applied at the door are the PER-ROW frozen
    * ones — c14 keep (si ≥ τ) and the train split hash; the manifest tiers
    * (dedup, decontamination, language, quality) are x39's job upstream,
    * and the nightly c17/c18 rebuild finalizes the within-stage LCG
    * shuffle that provisional arrival order cannot reproduce — both
    * delegations stated here and encoded identically in the oracle (the
    * x30→x33 discipline). Docs with no weighted bucket are absent on both
    * sides (the batch margin join's inner semantics, mirrored).
    *
    * Ordering contract (x20's bounded-trigger note, restated for the hash
    * gate): the oracle prefix-sums offsets in GLOBAL doc_id order while
    * the state handler sorts only WITHIN a trigger — oracle equality
    * therefore also relies on `docsStream`'s one-file-per-trigger
    * convention delivering the whole test table in ONE micro-batch (the
    * table is a single symlinked parquet file). A multi-file documents
    * table would interleave triggers in file order: offsets would still
    * be exactly-once and contiguous per stage (the restart spec's
    * contract), but assigned in arrival order, as a real door's are. */
  def x41_stream_shard_placement(s: SparkSession, dir: String): DataFrame =
    runToMemory(x41Out(s, dir).toDF(), OutputMode.Append(), "x41_stream_shard_placement")
      .orderBy("doc_id")

  private[graft] def x41Out(s: SparkSession, dir: String): Dataset[PlaceOut] =
    x41Place(s, dir)(docsStream(s, dir))

  /** x41's pipeline over any docs relation — factored so
    * `CheckpointRestartSpec` can drive it from a chunked checkpointed
    * source and prove the per-stage offset state resumes exactly. */
  private[graft] def x41Place(s: SparkSession, dir: String)(
      docsIn: DataFrame): Dataset[PlaceOut] = {
    import s.implicits._
    // the c17 chain is staged FIRST: its c16 layer overlaps the c13
    // staging with the c14 trainer (QUtil.par2), so the c14Model call below
    // is a cache hit — calling the trainer first would serialize the two
    // chains.
    // the shipped curriculum's boundaries and tails: stage → (min si, tokens).
    // Rows are keyed by their RAW stage id, not array position:
    // on a degenerate curriculum with fewer than 10 train docs the stage ids
    // are non-dense (e.g. {0,3,6}), and a count-derived positional label
    // would return a real tail where the oracle's by-id lookup misses — the
    // highest-cleared-boundary scan below and the oracle's max(stage) rule
    // agree in every regime. An EMPTY curriculum has no placement contract
    // at all; fail loudly instead of AIOOBE.
    val curAgg = graft.plans.BroadcastContract.boundedCollect(
      graft.queries.Pipeline.c17CurriculumUnordered(s, dir) // agg input: the sort is dead weight
        .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
        .groupBy(col("stage"))
        .agg(min(col("si")).as("m"), sum(col("n_tokens")).as("tot")),
      "c17 stage inventory: <= 10 rows by construction")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    require(curAgg.nonEmpty,
      "x41 requires a nonempty shipped curriculum artifact (c17 is empty)")
    val (_, _, w, bias, tau) = graft.queries.Pipeline.c14Model(s, dir)
    val wMap = graft.plans.BroadcastContract.boundedCollect(w,
        "c14 weights: <= 256 hashed buckets by construction")
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val biasV = graft.plans.BroadcastContract.boundedCollect(bias,
      "c14 bias: one row by aggregation").head.getDouble(0)
    val tauV = graft.plans.BroadcastContract.boundedCollect(tau,
      "c14 tau: one row over the bounded score grid").head.getLong(0)
    requireSingleDocsFile(dir, "x41")
    val bounds = curAgg.map(t => (t._1, t._2))
    // scoring + stage + tail base as ONE STATELESS TYPED MAP over the
    // arriving row (x36's class — no state store, no shuffle, O(|grams|)
    // per doc). Deliberately NOT spelled as nested higher-order-function
    // expressions: the per-bucket count inside `aggregate()` re-inlines
    // the md5 gram transform per distinct bucket (CollapseProject), which
    // measured O(256·n) md5 calls per document — 500+ s at sf0.1 for a
    // 24 s relation. The in-closure mirror is x40's proven decimal
    // argument op-for-op (HALF_UP products on the 1e-6 grid, exact
    // BigDecimal addition in any order, final round6(…+bias)); the
    // train-split gate stays a per-row expression below the scan.
    val train = docsIn
      .filter(graft.queries.Pipeline.splitOf(col("doc_id")) === "train")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val in: Dataset[PlaceIn] = train.flatMap { case (id, text) =>
      val tk = text.split(" ", -1) // Spark split keeps trailing empties
      frozenMarginSi(wMap, biasV, tk) match {
        case Some(si) if si >= tauV => // the frozen keep gate
          val (stage, _, base) = curAgg(stageIdx(bounds, si))
          Some(PlaceIn(id, stage, tk.length.toLong, base))
        case _ => None
      }
    }
    val out = in.groupByKey(_.stage)
      .flatMapGroupsWithState[Long, PlaceOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[PlaceIn], state: GroupState[Long]) =>
          var run = state.getOption.getOrElse(0L)
          val outs = it.toSeq.sortBy(_.doc_id).map { d =>
            val off = d.base + run
            run += d.n_tok
            PlaceOut(d.doc_id, d.stage, off, off / 128L)
          }
          state.update(run)
          outs.iterator
      }
    out
  }

  /** x41's oracle: the c14 and c17 oracles as derived tables — the scored
    * corpus gated by the same frozen keep/train rules, the same
    * highest-cleared-boundary stage rule, and the per-stage running
    * offset in arrival (doc_id) order continuing from the shipped stage
    * totals. */
  val x41Sql: String = {
    val splitCase =
      """CASE WHEN substring(md5('split:' || sc.doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
        |     WHEN substring(md5('split:' || sc.doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
        |     ELSE 'test' END""".stripMargin
    s"""WITH cur AS MATERIALIZED (
       |${graft.queries.Pipeline.c17Sql}
       |), bounds AS (
       |  SELECT stage, min(floor(score * 1000000.0 + 0.5)::BIGINT) AS m,
       |         sum(n_tokens)::BIGINT AS tot
       |  FROM cur GROUP BY 1
       |), sc AS (
       |  SELECT c.doc_id, floor(c.score * 1000000.0 + 0.5)::BIGINT AS si,
       |         len(string_split(d.text, ' '))::BIGINT AS n_tok
       |  FROM (
       |${graft.queries.Pipeline.c14Sql}
       |  ) c JOIN documents d ON d.doc_id = c.doc_id
       |  WHERE c.keep
       |), st AS (
       |  SELECT doc_id, n_tok,
       |    coalesce((SELECT max(b.stage) FROM bounds b WHERE b.m <= sc.si),
       |             (SELECT min(b2.stage) FROM bounds b2))::BIGINT AS stage
       |  FROM sc
       |  WHERE $splitCase = 'train'
       |), o AS (
       |  SELECT doc_id, stage, n_tok,
       |    ((SELECT tot FROM bounds b WHERE b.stage = st.stage)
       |     + coalesce(sum(n_tok) OVER (PARTITION BY stage ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS off
       |  FROM st
       |)
       |SELECT doc_id, stage, off, (off // 128)::BIGINT AS shard
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** X42: STAGE-SKEW MONITOR AT THE DOOR — the operational loop around
    * the funnel's online chain closed: x39 admits, x40 keeps, x41 places
    * against the SHIPPED curriculum's boundaries, and x42 is the signal
    * that says those boundaries have gone STALE — the trigger for c19's
    * incremental fold (the compaction-scheduling decision every
    * decide-at-the-door / compact-at-night pipeline needs). Each arriving
    * doc clearing the frozen per-row gates takes its x41 stage (the SAME
    * scorer and highest-cleared-boundary rule — [[frozenMarginSi]]/
    * [[stageIdx]], one op sequence for placement and monitoring), and a
    * per-stage running count (x41's state shape: O(1) ValueState, ≤10
    * keys) emits the observed mix each trigger. If the shipped boundaries
    * were fresh, arriving traffic would spread across stages like the
    * shipped curriculum does (a decile each); a skewed mix means the
    * score distribution moved and the nightly c19 fold should run early.
    * Final reading per stage (counts are strictly monotone across
    * triggers, so max selects the last trigger — x31's convention) joined
    * against the shipped per-stage inventory: (stage, n_arrived,
    * n_shipped, arrived_share, shipped_share, skew). All-integer until
    * the final round4 shares — no transcendental crosses engines. */
  def x42_stream_stage_skew(s: SparkSession, dir: String): DataFrame = {
    val placed = runToMemory(x42Counts(s, dir).toDF("stage", "n"),
      OutputMode.Append(), "x42_stream_stage_skew")
    val arrived = placed.groupBy(col("stage")).agg(max(col("n")).as("n_arrived"))
    // the reading's finisher (shipped join, zero-fill, round4 shares,
    // skew) is Pipeline.stageSkewReport — ONE body with c19_fold_gate's
    // batch consumption, so the monitor and the gate cannot drift
    graft.queries.Pipeline.stageSkewReport(s, dir, arrived)
  }

  /** x42's streaming leg: per-stage running arrival counts under the
    * frozen gates — one stateful operator, ≤10 keys, O(1) state each. */
  private[graft] def x42Counts(s: SparkSession, dir: String): Dataset[(Long, Long)] = {
    import s.implicits._
    // c17 chain first — its c16 layer overlaps c13 staging with the c14
    // trainer (QUtil.par2); c14Model below is then a cache hit
    val bounds = graft.plans.BroadcastContract.boundedCollect(
      graft.queries.Pipeline.c17CurriculumUnordered(s, dir) // agg input: the sort is dead weight
        .withColumn("si", floor(col("score") * 1000000.0 + 0.5).cast("long"))
        .groupBy(col("stage")).agg(min(col("si")).as("m")),
      "c17 stage boundaries: <= 10 rows by construction")
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(bounds.nonEmpty,
      "x42 requires a nonempty shipped curriculum artifact (c17 is empty)")
    val (_, _, w, bias, tau) = graft.queries.Pipeline.c14Model(s, dir)
    val wMap = graft.plans.BroadcastContract.boundedCollect(w,
        "c14 weights: <= 256 hashed buckets by construction")
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val biasV = graft.plans.BroadcastContract.boundedCollect(bias,
      "c14 bias: one row by aggregation").head.getDouble(0)
    val tauV = graft.plans.BroadcastContract.boundedCollect(tau,
      "c14 tau: one row over the bounded score grid").head.getLong(0)
    requireSingleDocsFile(dir, "x42")
    val stages: Dataset[Long] = docsStream(s, dir)
      .filter(graft.queries.Pipeline.splitOf(col("doc_id")) === "train")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (_, text) =>
        frozenMarginSi(wMap, biasV, text.split(" ", -1)) match {
          case Some(si) if si >= tauV => Some(bounds(stageIdx(bounds, si))._1)
          case _ => None
        }
      }
    stages.groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (stage: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          Iterator.single((stage, n))
      }
  }

  /** x42's oracle: [[graft.queries.Pipeline.stageSkewSqlBody]] — the
    * arrival side is x41's stage rule over the frozen kept∩train
    * universe, the shipped side the curriculum's per-stage inventory.
    * The spelling lives in Pipeline (one body with c19_fold_gate's
    * oracle) and is referenced lazily here to avoid a Streams ⇄
    * Pipeline object-initialization cycle. */
  lazy val x42Sql: String = graft.queries.Pipeline.stageSkewSqlBody

  /** x39's oracle: the same admission relation batch-side — per-doc gates
    * from the t2/t3/t14 oracles verbatim, the settled digest tier as a
    * LEFT JOIN, verdicts in the gate's precedence order, split assigned
    * only on admit. The near-dup tier is absent on BOTH sides (the stated
    * delegation to c15's fold). */
  val x39Sql: String =
    s"""WITH q AS (
       |${graft.queries.TextAnalysis.t2Sql}
       |), p AS (
       |${graft.queries.TextAnalysis.t3Sql}
       |), cont AS (
       |${graft.queries.TextAnalysis.t14Sql}
       |), digb AS (
       |  SELECT md5(substring(text, 1, 64)) AS h, min(doc_id) AS base_id
       |  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
       |), d AS (
       |  SELECT doc_id, md5(substring(text, 1, 64)) AS h,
       |         len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents WHERE doc_id % 10 = 0
       |), v AS (
       |  SELECT d.doc_id,
       |    CASE WHEN b.base_id IS NOT NULL THEN 'dup_settled'
       |         WHEN d.doc_id % 100 = 0 THEN 'eval_doc'
       |         WHEN p.predicted <> 'en' THEN 'not_english'
       |         WHEN q.quality < 0.5 THEN 'low_quality'
       |         WHEN EXISTS (SELECT 1 FROM cont
       |                      WHERE cont.train_doc = d.doc_id AND cont.n_shared >= 2)
       |           THEN 'contaminated'
       |         ELSE 'admit' END AS verdict,
       |    b.base_id AS dup_of, p.predicted AS lang, q.quality, d.n_tokens
       |  FROM d
       |  JOIN p ON p.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  LEFT JOIN digb b ON b.h = d.h
       |)
       |SELECT doc_id, verdict, dup_of, lang, quality, n_tokens,
       |  CASE WHEN verdict = 'admit' THEN
       |    CASE WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
       |         WHEN substring(md5('split:' || doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
       |         ELSE 'test' END
       |  END AS split
       |FROM v ORDER BY doc_id""".stripMargin

  /** X34: ONLINE INDEX INGEST — the streaming half of s18's incremental
    * vector index: delta embeddings ARRIVE as traffic and each is routed
    * and PQ-encoded against the FROZEN settled index entirely as per-row
    * expressions — the O(1)-per-row ingest path a production vector store
    * runs at write time (x26 is the read path; together they close the
    * serving loop). Both frozen artifacts are structurally bounded and
    * fold in via the sanctioned replicate-bounded-state move
    * (`boundedCollect`): the k-row settled coarse quantizer becomes one
    * literal array routed by `Similarity.nearest` (the winning centroid
    * rides in its struct, so the residual reuses it); the ≤ 8×4 subvector
    * codebook becomes eight per-subspace `nearest` calls over the residual
    * slices. No state store, no watermark, no shuffle — a pure stateless
    * projection that scales with arrival rate alone (x24's class).
    *
    * Exactness: every fold is the proven exact-decimal sqDist; assignment
    * ties break (dist, cluster) and code ties (sqd, c) — bit-for-bit the
    * batch encoder's windows, so the emitted (vec_id, cell, j, code) rows
    * hash-match the frozen-index oracle's delta code rows
    * ([[graft.queries.Similarity.s18DeltaCodesSql]]). */
  def x34_stream_index_ingest(s: SparkSession, dir: String): DataFrame = {
    val out = x34Encode(s, dir)(embStream(s, dir))
    runToMemory(out, OutputMode.Append(), "x34_stream_index_ingest")
      .orderBy("vec_id", "j")
  }

  /** x34's per-row route + PQ-encode as a TRANSFORM over any embedding
    * relation (batch or stream) — factored so `CheckpointRestartSpec` can
    * drive the same write path from a chunked checkpointed source and
    * prove the ingest is exactly-once under kill/restart. */
  private[graft] def x34Encode(s: SparkSession, dir: String)(in: DataFrame): DataFrame = {
    import graft.queries.Similarity
    val idxS = Similarity.ivfpqSettledIndex(s, dir)
    val cents = graft.plans.BroadcastContract.boundedCollect(idxS.coarse,
        "frozen settled coarse quantizer: k rows by seeding")
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // codebook rows (j, c, i, cv) → per-subspace (c, 8-dim subvector)
    val cbByJ = graft.plans.BroadcastContract.boundedCollect(idxS.cb1,
        "frozen residual codebook: <= 8x4x8 rows by construction")
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).map { case (j, rows) =>
        j -> rows.groupBy(_._2).map { case (c, dims) =>
          c -> dims.sortBy(_._3).map(_._4).toSeq
        }.toSeq
      }
    def nearest1(v: Column, cs: Seq[(Long, Seq[Double])]): Column =
      element_at(Similarity.nearest(v, Similarity.centroidLit(cs), 1,
        Similarity.sqDist), 1)
    val codesOf = (0 until 8).map { j =>
      val bestCode = nearest1(slice(col("res"), j * 8 + 1, 8), cbByJ(j))
      struct(lit(j.toLong).as("j"), bestCode.getField("cluster").as("c"))
    }
    in
      .filter(col("vec_id") % 10 === 0) // the arriving delta slice
      .withColumn("best", nearest1(col("embedding"), cents)) // centroid kept for the residual
      .select(col("vec_id"), col("best.cluster").as("cell"),
        zip_with(col("embedding"), col("best.cemb"),
          (x, c) => x.cast("double") - c).as("res"))
      .select(col("vec_id"), col("cell"), explode(array(codesOf: _*)).as("jc"))
      .select(col("vec_id"), col("cell"), col("jc.j").as("j"), col("jc.c").as("c"))
  }

  case class PplIn(doc_id: Long, lang: String, lp_micro: Long)
  case class PplOut(doc_id: Long, lang: String, n_bigrams: Long,
                    avg_nll: Double, ppl_bucket: String)

  /** Per-document bigrams built ROW-LOCALLY (`transform` over the token
    * array + one explode) — no positional self-join, which on a stream
    * would be a stream-stream join with state. Same bigram multiset as
    * t26's posexplode/self-join construction. */
  private def docBigrams(df: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    df.select(col("doc_id"), col("lang"), col("source"), tk.as("tk"),
              size(tk).cast("long").as("n"))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr("transform(sequence(1, cast(n - 1 AS int)), " +
                     "i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("bg"))
      .select(col("doc_id"), col("lang"), col("source"),
              col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** X27: t26's PERPLEXITY FILTER ONLINE — the production deployment shape
    * of a CCNet-style quality gate: the language model is TRAINED OFFLINE
    * (the trusted-slice bigram/context/vocab relations, computed here from
    * the settled batch table exactly as t26 does) and documents are scored
    * AS THEY ARRIVE — stream-static left joins on the (lang, gram) model
    * keys (stateless, re-planned per micro-batch; the model is unbounded
    * vocabulary and never broadcast — the x22 discipline), then one keyed
    * in-trigger gather per document.
    *
    * The gather contract: a document's bigram rows all come from ONE
    * arriving row (row-local explode, stateless joins), so they never span
    * micro-batches — the `flatMapGroupsWithState` group slice is O(doc
    * tokens), bounded by max document length, and the group STATE is
    * declared but never written (the keyed-iterator API is used for its
    * per-key batch slice; there is nothing to carry across triggers).
    * Scoring arithmetic mirrors t26's integer micro-nat grid and round4
    * ordering exactly, so batch and online emit identical rows — shared
    * oracle. */
  def x27_stream_perplexity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val refSrc = Seq("src0", "src1")
    val refDocs = Tables.documents(s, dir).filter(col("source").isin(refSrc: _*))
    val refBi = docBigrams(refDocs)
    val c2 = refBi.groupBy(col("lang"), col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // context counts derive from the bigram model (t26's restructure):
    // c1(l, w1) = Σ_w2 c2 — a re-agg of the reduced relation, not a second
    // pass over the trusted slice
    val c1 = c2.groupBy(col("lang"), col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = refDocs // bounded: one row per language (t15's contract)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang")).agg(countDistinct(col("tok")).as("vsz"))
    val scored = docBigrams(docsStream(s, dir))
      .join(c2, Seq("lang", "w1", "w2"), "left_outer")
      .join(c1, Seq("lang", "w1"), "left_outer")
      .join(vocab, Seq("lang"))
      .withColumn("lp_micro",
        floor(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
                  (coalesce(col("c1"), lit(0L)) + col("vsz"))) * 1000000.0 + 0.5)
          .cast("long"))
      .select(col("doc_id"), col("lang"), col("lp_micro")).as[PplIn]
    val out = scored.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Long, PplOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[PplIn], _: GroupState[Long]) =>
          val rows = it.toSeq
          val n = rows.size.toLong
          val sumLp = rows.map(_.lp_micro).sum
          // identical op order to t26's round4(−sum/1e6/n)
          val avg = math.floor(-sumLp.toDouble / 1000000.0 / n * 10000.0 + 0.5) / 10000.0
          val bucket = if (avg < 3.46) "head" else if (avg < 3.53) "middle" else "tail"
          Iterator.single(PplOut(rows.head.doc_id, rows.head.lang, n, avg, bucket))
      }
    runToMemory(out.toDF(), OutputMode.Append(), "x27_stream_perplexity")
      .orderBy("doc_id")
  }

  case class Bm25In(query_id: Long, doc_id: Long, c_micro: Long)
  case class Bm25Out(query_id: Long, doc_id: Long, n_hit: Long,
                     score: Double, rk: Long)

  /** X28: t27's BM25 RETRIEVAL ONLINE — the search-endpoint deployment
    * shape: the inverted index is BUILT OFFLINE (pruned postings, df, and
    * corpus stats from the settled batch table, exactly t27's
    * construction) and queries arrive as traffic; each is answered within
    * its arrival trigger.
    *
    * Scale decisions mirror x26's serving split:
    *  1. The 1-row (N, Σdl) stats relation folds into literals via
    *     `BroadcastContract.boundedCollect` (replicate-bounded-state).
    *  2. The candidate scan is a stream-static equi-join on the TERM key
    *     against the 64-entry pruned postings — so per-query candidate
    *     mass is bounded by 64·|q| regardless of corpus size (t27's
    *     static-index-pruning contract is precisely what makes the
    *     serving gather bounded).
    *  3. The per-query top-10 is a keyed in-trigger gather (x27's
    *     discipline): a query's candidate rows all derive from its one
    *     arriving row through stateless joins, so they never span
    *     triggers; group state is declared but never written.
    *
    * Scoring arithmetic reproduces t27's integer micro-unit grid and
    * round4/tie order exactly — identical rows online, shared oracle. */
  def x28_stream_bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val P = 64
    val K = 10
    val docs = Tables.documents(s, dir)
    val tk = split(col("text"), " ")
    // the endpoint holds its index: materialized once, reused every trigger
    val tf = graft.queries.TextAnalysis.bm25Postings(s, dir, materialize = true)
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wp = Window.partitionBy(col("term")).orderBy(col("tf").desc, col("doc_id"))
    val pruned = tf.withColumn("pr", row_number().over(wp)).filter(col("pr") <= P)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val statsRow = graft.plans.BroadcastContract.boundedCollect(
      tf.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
      "BM25 corpus stats: one row").head
    val nDocs = statsRow.getLong(0)
    val sumDl = statsRow.getLong(1)
    val avgdl = sumDl.toDouble / nDocs
    val idf6 = graft.queries.QUtil.round6(
      log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    val contrib = idf6 * (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / lit(avgdl))))
    val cand = docsStream(s, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
              explode(array_distinct(slice(tk, 1, 2))).as("term"))
      .join(pruned, Seq("term")) // stream-static, term-pruned
      .filter(col("doc_id") =!= col("query_id"))
      .join(dfRel, Seq("term"))
      .select(col("query_id"), col("doc_id"),
              floor(contrib * 1000000.0 + 0.5).cast("long").as("c_micro"))
      .as[Bm25In]
    val answered = cand.groupByKey(_.query_id)
      .flatMapGroupsWithState[Long, Bm25Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (q: Long, it: Iterator[Bm25In], _: GroupState[Long]) =>
          val perDoc = it.toSeq.groupBy(_.doc_id).toSeq.map { case (d, rs) =>
            val sumC = rs.map(_.c_micro).sum
            // t27's exact op order: round4(sum_micro / 1e6)
            val score = math.floor(sumC.toDouble / 1000000.0 * 10000.0 + 0.5) / 10000.0
            (d, rs.size.toLong, score)
          }
          perDoc.sortBy { case (d, _, sc) => (-sc, d) }.take(K).zipWithIndex
            .map { case ((d, nh, sc), i) => Bm25Out(q, d, nh, sc, i + 1L) }
            .iterator
      }
    runToMemory(answered.toDF(), OutputMode.Append(), "x28_stream_bm25")
      .orderBy("query_id", "rk")
  }

  /** X29: t17's HEAVY HITTERS ONLINE — the trending-tokens monitor a
    * streaming ingest runs: a single Misra-Gries sketch maintained as
    * streaming aggregation state across triggers (complete mode — the
    * monitor's answer table), so the store holds a BOUNDED k-entry map
    * however many distinct tokens flow past — the sketch-vs-vocabulary
    * trade at its purest: O(k) state online versus t17's map-side-combined
    * partial sketches, same `merge` law either way (the Agarwal et al.
    * mergeable-summaries rule, so trigger boundaries are just another
    * partitioning — `MisraGriesSpec` pins the never-miss property over
    * random partitionings, which includes this one).
    *
    * The EXACT half is the Lambda-confirm step a production monitor runs
    * against the settled table: the ≤ k streaming candidates prune one
    * batch counting pass (broadcast of ≤ k rows — the full vocabulary
    * never shuffles), and the exact `cnt·(k+1) > N` threshold drops the
    * sketch's over-admissions. Because the sketch never misses a true
    * heavy hitter, the confirmed output is bit-for-bit t17's — shared
    * oracle. */
  def x29_stream_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 40
    val tk = split(col("text"), " ")
    val sketch = docsStream(s, dir)
      .select(explode(tk).as("tok")).as[String]
      .select(new graft.functions.MisraGriesAgg(k).toColumn.name("cands"))
    val cands = runToMemory(sketch.toDF("cands"), OutputMode.Complete(), "x29_stream_heavy_hitters")
      .select(explode(col("cands")).as("tok"))
    val tokens = Tables.documents(s, dir).select(explode(tk).as("tok"))
    val total = tokens.agg(count(lit(1)).as("n"))
    tokens
      .join(broadcast(cands), Seq("tok")) // ≤ k rows by sketch capacity
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col("tok"), col("cnt"))
      .orderBy(desc("cnt"), asc("tok"))
  }

  case class FunEv(user_id: Long, event_id: Long, t: Long, tag: Int)
  case class FunState(lastView: Long, lastS2: Long,
                      nViews: Long, nS2: Long, nS3: Long)
  case class FunOut(user_id: Long, n_views: Long, n_step2: Long, n_step3: Long)

  /** X30: q21's CONVERSION FUNNEL ONLINE — view → click (within 24 h of a
    * view) → purchase (within 24 h of a qualified click) tracked per user
    * as arrivals land: the per-user state is a MONOTONE STATE MACHINE in
    * O(1) ValueState — latest qualifying view time, latest qualified-click
    * time, and the three stage counters — the classic real-time funnel /
    * conversion-attribution deployment.
    *
    * Replay contract: the machine consumes each user's slice in event-time
    * order (in-trigger sort + time-ordered triggers — x19/x20's replay
    * discipline, the same in-order sequential semantics as the reference's
    * keyed operators). A late event can change a PAST funnel decision, so
    * out-of-order robustness belongs to the watermark-buffered class
    * (x15's carry-the-event-time-key move), not this machine — stated
    * here, not hidden.
    *
    * Emission: per-trigger per-user counter snapshots (update mode); the
    * counters are monotone, so the final value per user is the MAX of its
    * snapshots — the same final-value-fidelity selection every running-
    * state twin uses. Decisions mirror q21's window logic exactly (same
    * (t, tag, event_id) order, same ≥ t − L horizon comparisons on exact
    * µs integers) — shared q21 oracle. */
  def x30_stream_funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1).otherwise(2)
    val ds = eventsStream(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
              tag.as("tag"))
      .as[FunEv]
    runToMemory(funnelStateful(ds).toDF(), OutputMode.Update(), "x30_stream_funnel")
      .groupBy(col("user_id"))
      .agg(max(col("n_views")).as("n_views"), max(col("n_step2")).as("n_step2"),
           max(col("n_step3")).as("n_step3"))
      .filter(col("n_step3") >= 1)
      .orderBy("user_id")
  }

  /** The x30 stateful core, shared with `StreamingSpec`'s cross-trigger
    * continuity test: per-user funnel machine in O(1) ValueState. */
  def funnelStateful(ds: Dataset[FunEv]): Dataset[FunOut] = {
    import ds.sparkSession.implicits._
    val L = 86400000000L
    val NONE = Long.MinValue
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunState, FunOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (u: Long, it: Iterator[FunEv], state: GroupState[FunState]) =>
          var st = state.getOption.getOrElse(FunState(NONE, NONE, 0L, 0L, 0L))
          for (e <- it.toSeq.sortBy(e => (e.t, e.tag, e.event_id))) e.tag match {
            case 0 =>
              st = st.copy(lastView = math.max(st.lastView, e.t),
                           nViews = st.nViews + 1)
            case 1 =>
              if (st.lastView != NONE && st.lastView >= e.t - L)
                st = st.copy(lastS2 = math.max(st.lastS2, e.t), nS2 = st.nS2 + 1)
            case _ =>
              if (st.lastS2 != NONE && st.lastS2 >= e.t - L)
                st = st.copy(nS3 = st.nS3 + 1)
          }
          state.update(st)
          Iterator.single(FunOut(u, st.nViews, st.nS2, st.nS3))
      }
  }

  /** x33's input carries the raw `ts` alongside the µs integer: the
    * watermark attribute must reach the stateful operator (Spark refuses
    * `getCurrentWatermarkMs` otherwise); the buffer stores the compact
    * [[FunEv]] form. */
  case class FunBufEv(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                      t: Long, tag: Int)
  case class FunBufState(lastView: Long, lastS2: Long, nViews: Long,
                         nS2: Long, nS3: Long, nFin: Long, buf: List[FunEv])
  case class FunBufOut(user_id: Long, n_seen: Long, n_views: Long,
                       n_step2: Long, n_step3: Long)

  /** X33: the LATE-ROBUST funnel — the watermark-buffered twin x30's
    * scaladoc points to. x30's monotone machine requires in-order
    * consumption, because a late event can change a PAST funnel decision
    * (a view arriving after the click it qualifies). This variant carries
    * the event-time key in state (x15's move, upgraded from O(1) merge
    * state to a bounded reorder buffer, the reference's ST6 reorder class):
    * per user, events inside the watermark horizon are BUFFERED; once the
    * watermark passes an event's time, no earlier event can still arrive
    * (the lateness contract), so the prefix is FINALIZED through the exact
    * q21 fold and evicted — state per user is the O(1) machine plus only
    * the horizon's events, not history. Each trigger emits the current
    * best estimate (finalized machine + a provisional fold over the
    * buffer, in global event-time order), so the final snapshot per user —
    * selected by the strictly-monotone n_seen — has folded EVERY event in
    * exact event-time order, late arrivals included: bit-for-bit q21,
    * shared oracle, over the genuinely out-of-order jittered replay that
    * x30's in-order contract cannot consume. Kill/restart-proven in
    * `CheckpointRestartSpec` (buffer + machine both live in the state
    * store). */
  def x33_stream_funnel_buffered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1).otherwise(2)
    val ds = replayStream(s, dir, "events_replay_funnel", Seq("user_id", "event_type"))
      // watermark BEFORE the type filter: the far-future sentinel advances
      // it even though the row itself is discarded below
      .withWatermark("ts", "30 minutes")
      .filter(col("user_id") >= 0 &&
              col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"),
              unix_micros(col("ts")).as("t"), tag.as("tag"))
      .as[FunBufEv]
    val mem = runToMemory(funnelBufferedStateful(ds).toDF(), OutputMode.Update(),
        "x33_stream_funnel_buffered")
    import org.apache.spark.sql.expressions.Window
    mem
      .withColumn("rn", row_number().over( // n_seen strictly grows per emission
        Window.partitionBy(col("user_id")).orderBy(col("n_seen").desc)))
      .filter(col("rn") === 1 && col("n_step3") >= 1)
      .select(col("user_id"), col("n_views"), col("n_step2"), col("n_step3"))
      .orderBy("user_id")
  }

  /** The x33 stateful core, shared with `CheckpointRestartSpec`: per-user
    * watermark-horizon reorder buffer + the exact q21 fold over the
    * finalized prefix. */
  def funnelBufferedStateful(ds: Dataset[FunBufEv]): Dataset[FunBufOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunBufState, FunBufOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(funnelBufferedFold)
  }

  /** The per-trigger x33 fold, factored so `StreamingSpec` can pin the
    * watermark-boundary semantics with a `TestGroupState` at an engineered
    * watermark. */
  private[graft] def funnelBufferedFold(u: Long, it: Iterator[FunBufEv],
      state: GroupState[FunBufState]): Iterator[FunBufOut] = {
    val L = 86400000000L
    val NONE = Long.MinValue
    // q21's machine as a pure fold (same (t, tag, event_id) order, same
    // ≥ t − L horizon comparisons on exact µs integers)
    def fold(lv0: Long, ls0: Long, nv0: Long, n20: Long, n30: Long,
             evs: Seq[FunEv]): (Long, Long, Long, Long, Long) = {
      var (lv, ls, nv, n2, n3) = (lv0, ls0, nv0, n20, n30)
      for (e <- evs) e.tag match {
        case 0 => lv = math.max(lv, e.t); nv += 1
        case 1 => if (lv != NONE && lv >= e.t - L) { ls = math.max(ls, e.t); n2 += 1 }
        case _ => if (ls != NONE && ls >= e.t - L) n3 += 1
      }
      (lv, ls, nv, n2, n3)
    }
    val st = state.getOption.getOrElse(
      FunBufState(NONE, NONE, 0L, 0L, 0L, 0L, Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    // global event-time order across buffered + newly-arrived events;
    // every buffered event is ≥ the finalized prefix by construction
    val arrived = it.map(e => FunEv(e.user_id, e.event_id, e.t, e.tag)).toList
    val pending = (st.buf ++ arrived).sortBy(e => (e.t, e.tag, e.event_id))
    // STRICT comparison at the boundary: the documented watermark
    // guarantee is one-directional — events inside the delay are never
    // dropped; what happens to an event with t == wm is an engine detail
    // (Spark 4's late-event predicate is <=, so such an event is dropped
    // as late and cannot reach this operator in a later batch). Holding
    // the equality boundary in the buffer is therefore not required by
    // today's engine, but it is free and robust: if the eviction predicate
    // ever admits t == wm, early finalization would fold that event after
    // its same-timestamp peers and break the (t, tag, event_id) order q21
    // parity depends on. Per-trigger OUTPUT is identical either way — each
    // emission folds finalized state plus the held buffer over the same
    // total order (pinned in StreamingSpec).
    val (ripe, hold) = pending.partition(_.t < wmUs)
    val (lv, ls, nv, n2, n3) =
      fold(st.lastView, st.lastS2, st.nViews, st.nS2, st.nS3, ripe)
    val nFin = st.nFin + ripe.size
    state.update(FunBufState(lv, ls, nv, n2, n3, nFin, hold))
    // the estimate: provisional fold over the horizon buffer
    val (_, _, env, en2, en3) = fold(lv, ls, nv, n2, n3, hold)
    Iterator.single(FunBufOut(u, nFin + hold.size, env, en2, en3))
  }

  case class DriftIn(lang: String, bucket: String)
  case class DriftState(counts: Map[String, Long], n: Long)
  case class DriftOut(lang: String, delta_grams: Long, kl: Double, drifted: Boolean)

  /** X31: t29's DRIFT MONITOR ONLINE — the alarm evaluated per trigger as
    * the increment lands, instead of once at the end: per language, the
    * state is the cumulative delta's bucket histogram — STRUCTURALLY
    * BOUNDED at 256 counters however many grams flow past (t28's hashed
    * feature space doing for state size exactly what it does for model
    * broadcast) — and each trigger re-evaluates KL(delta-so-far ‖ settled)
    * over the full canonical bucket space against the offline settled
    * model (≤ 256 × languages rows, materialized via
    * `BroadcastContract.boundedCollect` — the replicate-bounded-state
    * move).
    *
    * The per-trigger KL is the real monitor semantics: early triggers read
    * HIGH (the ≈K/2N small-sample bias the t29 spec pins) and the reading
    * converges onto the batch value as the increment accumulates — so the
    * final row per language (monotone delta_grams selects it) is
    * bit-for-bit t29's, shared oracle, while the intermediate emissions
    * are what a dashboard would actually plot.
    *
    * Arithmetic: the in-state fold reproduces t29's scaled-divergence
    * integer grid exactly (same `Math.log` the Spark expression uses, same
    * op order), so convergence is exact, not approximate. */
  def x31_stream_drift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = split(col("text"), " ")
    def gramsOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("lang"), tk.as("tk"), size(tk).as("n"))
      .select(col("doc_id"), col("lang"),
        explode(concat(col("tk"),
          when(col("n") >= 2,
            expr("transform(sequence(1, n - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
            .otherwise(typedlit(Seq.empty[String])))).as("gram"))
      .select(col("lang"),
              substring(md5(col("gram").cast("binary")), 1, 2).as("bucket"))
    val settledRel = gramsOf(Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0))
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("sc"))
    val scMap = graft.plans.BroadcastContract.boundedCollect(settledRel,
        "settled drift model: 256 buckets x bounded language inventory")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val stMap = scMap.groupBy(_._1._1).map { case (l, kv) => l -> kv.values.sum }
    val out = driftStateful(
      gramsOf(docsStream(s, dir).filter(col("doc_id") % 10 === 0)).as[DriftIn],
      scMap, stMap)
    val snapshots = runToMemory(out.toDF(), OutputMode.Update(), "x31_stream_drift")
    // monotone delta_grams selects each language's final (= batch) reading
    snapshots
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("delta_grams").desc)))
      .filter(col("rn") === 1)
      .select(col("lang"), col("delta_grams"), col("kl"), col("drifted"))
      .orderBy("lang")
  }

  /** The x31 stateful core, shared with `StreamingSpec`'s cross-trigger
    * convergence test: per-language cumulative bucket histogram (≤ 256
    * counters) + per-trigger KL re-evaluation against the settled model. */
  def driftStateful(ds: Dataset[DriftIn],
                    scMap: Map[(String, String), Long],
                    stMap: Map[String, Long]): Dataset[DriftOut] = {
    import ds.sparkSession.implicits._
    val buckets = (0 until 256).map(i => f"$i%02x")
    ds.groupByKey(_.lang)
      .flatMapGroupsWithState[DriftState, DriftOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (lang: String, it: Iterator[DriftIn], state: GroupState[DriftState]) =>
          var st = state.getOption.getOrElse(DriftState(Map.empty, 0L))
          it.foreach { g =>
            st = DriftState(
              st.counts.updated(g.bucket, st.counts.getOrElse(g.bucket, 0L) + 1L),
              st.n + 1L)
          }
          state.update(st)
          stMap.get(lang) match { // language absent from the settled corpus: no model, no reading (t29's inner join)
            case None => Iterator.empty
            case Some(stot) =>
              // t29's scaled-divergence grid, op for op
              val scaled = buckets.map { b =>
                val dc = st.counts.getOrElse(b, 0L)
                val sc = scMap.getOrElse((lang, b), 0L)
                val lq = math.floor(math.log((dc + 1).toDouble / (st.n + 256)) * 1000000.0 + 0.5).toLong
                val lp = math.floor(math.log((sc + 1).toDouble / (stot + 256)) * 1000000.0 + 0.5).toLong
                (dc + 1) * (lq - lp)
              }.sum
              val kl = math.floor(scaled.toDouble / 1000000.0 / (st.n + 256) * 10000.0 + 0.5) / 10000.0
              Iterator.single(DriftOut(lang, st.n, kl, kl > 0.05))
          }
      }
  }

  /** The x31 drift machine on the `transformWithState` API: the cumulative
    * bucket histogram lives in a named `MapState[bucket, count]` (one
    * RocksDB-backed entry per occupied bucket, ≤ 256 by the hashed feature
    * space) plus a `ValueState` total — the natural fit for a keyed
    * histogram, where FMGWS would serialize the whole map as one value per
    * trigger and TWS updates only the touched buckets. KL re-evaluation
    * per trigger is identical arithmetic to [[driftStateful]]. */
  private class DriftProcessor(scMap: Map[(String, String), Long],
                               stMap: Map[String, Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DriftIn, DriftOut] {
    import org.apache.spark.sql.streaming.{MapState, TimerValues, TimeMode, TTLConfig, ValueState}
    @transient private var counts: MapState[String, Long] = _
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(lang: String, rows: Iterator[DriftIn],
        timerValues: TimerValues): Iterator[DriftOut] = {
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { g =>
        val c = if (counts.containsKey(g.bucket)) counts.getValue(g.bucket) else 0L
        counts.updateValue(g.bucket, c + 1L)
        n += 1L
      }
      total.update(n)
      stMap.get(lang) match {
        case None => Iterator.empty // no settled model for this language
        case Some(stot) =>
          val scaled = (0 until 256).map { i =>
            val b = f"$i%02x"
            val dc = if (counts.containsKey(b)) counts.getValue(b) else 0L
            val sc = scMap.getOrElse((lang, b), 0L)
            val lq = math.floor(math.log((dc + 1).toDouble / (n + 256)) * 1000000.0 + 0.5).toLong
            val lp = math.floor(math.log((sc + 1).toDouble / (stot + 256)) * 1000000.0 + 0.5).toLong
            (dc + 1) * (lq - lp)
          }.sum
          val kl = math.floor(scaled.toDouble / 1000000.0 / (n + 256) * 10000.0 + 0.5) / 10000.0
          Iterator.single(DriftOut(lang, n, kl, kl > 0.05))
      }
    }
  }

  /** X32: x31 on `transformWithState` + the RocksDB provider — the drift
    * monitor as it would actually deploy on the modern state API (x21's
    * twin discipline, third state shape: MapState histogram next to x10's
    * MapState+ListState+timers and x21's ValueState counter). Identical
    * readings to x31 trigger for trigger; shares t29's oracle. */
  def x32_tws_drift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = split(col("text"), " ")
    def gramsOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("lang"), tk.as("tk"), size(tk).as("n"))
      .select(col("doc_id"), col("lang"),
        explode(concat(col("tk"),
          when(col("n") >= 2,
            expr("transform(sequence(1, n - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
            .otherwise(typedlit(Seq.empty[String])))).as("gram"))
      .select(col("lang"),
              substring(md5(col("gram").cast("binary")), 1, 2).as("bucket"))
    val settledRel = gramsOf(Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0))
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("sc"))
    val scMap = graft.plans.BroadcastContract.boundedCollect(settledRel,
        "settled drift model: 256 buckets x bounded language inventory")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val stMap = scMap.groupBy(_._1._1).map { case (l, kv) => l -> kv.values.sum }
    val out = gramsOf(docsStream(s, dir).filter(col("doc_id") % 10 === 0))
      .as[DriftIn]
      .groupByKey(_.lang)
      .transformWithState(new DriftProcessor(scMap, stMap),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
    val snapshots = runToMemory(out.toDF(), OutputMode.Update(), "x32_tws_drift")
    snapshots
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("delta_grams").desc)))
      .filter(col("rn") === 1)
      .select(col("lang"), col("delta_grams"), col("kl"), col("drifted"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x41_stream_shard_placement" -> (x41_stream_shard_placement _),
    "x42_stream_stage_skew" -> (x42_stream_stage_skew _),
    "x32_tws_drift"            -> (x32_tws_drift _),
    "x31_stream_drift"         -> (x31_stream_drift _),
    "x30_stream_funnel"        -> (x30_stream_funnel _),
    "x33_stream_funnel_buffered" -> (x33_stream_funnel_buffered _),
    "x34_stream_index_ingest"  -> (x34_stream_index_ingest _),
    "x29_stream_heavy_hitters" -> (x29_stream_heavy_hitters _),
    "x28_stream_bm25"          -> (x28_stream_bm25 _),
    "x27_stream_perplexity"    -> (x27_stream_perplexity _),
    "x26_stream_ann_topk"      -> (x26_stream_ann_topk _),
    "x38_stream_sq8_serve"     -> (x38_stream_sq8_serve _),
    "x39_stream_release_admission" -> (x39_stream_release_admission _),
    "x40_stream_quality_gate"  -> (x40_stream_quality_gate _),
    "x25_stream_chunk_dedup"   -> (x25_stream_chunk_dedup _),
    "x22_stream_incr_dedup"    -> (x22_stream_incr_dedup _),
    "x21_tws_admission"        -> (x21_tws_admission _),
    "x24_stream_chunking"      -> (x24_stream_chunking _),
    "x20_stream_packing"       -> (x20_stream_packing _),
    "x19_stream_admission"     -> (x19_stream_admission _),
    "x18_stream_window_topk"   -> (x18_stream_window_topk _),
    "x1_stream_sliding_counts" -> (x1_sliding_counts _),
    "x2_stream_running_sum"    -> (x2_running_user_sum _),
    "x3_stream_resolver"       -> (x3_stream_resolver _),
    "x3_timer_resolver"        -> (x3_timer_resolver _),
    "x7_stream_features"       -> (x7_stream_features _),
    "x35_stream_signature"     -> (x35_stream_signature _),
    "x36_stream_media_ingest"  -> (x36_stream_media_ingest _),
    "x37_stream_decontam"      -> (x37_stream_decontam _),
    "x8_stream_dedup"          -> (x8_stream_dedup _),
    "x9_tws_running_sum"       -> (x9_tws_running_sum _),
    "x10_tws_timer_resolver"   -> (x10_tws_timer_resolver _),
    "x4_stream_sessions"       -> (x4_stream_sessions _),
    "x23_stream_dyn_sessions"  -> (x23_stream_dynamic_sessions _),
    "x5_stream_static_join"    -> (x5_stream_static_join _),
    "x11_stream_stream_join"   -> (x11_stream_stream_join _),
    "x12_stream_outer_join"    -> (x12_stream_outer_join _),
    "x13_stream_dedup_watermark" -> (x13_stream_dedup_watermark _),
    "x14_stream_ewma"          -> (x14_stream_ewma _),
    "x15_stream_ohlc"          -> (x15_stream_ohlc _),
    "x16_late_refinement"      -> (x16_late_refinement _),
    "x17_stream_full_outer"    -> (x17_stream_full_outer_join _))

  /** Streaming queries replay to the same final values as their batch twins,
    * so they share those oracles (SURVEY.md §5: final-value fidelity). */
  val oracles: Map[String, String] = Map(
    "x41_stream_shard_placement" -> x41Sql,
    "x42_stream_stage_skew" -> x42Sql,
    "x32_tws_drift"            -> graft.queries.TextAnalysis.t29Sql, // same converged reading
    "x31_stream_drift"         -> graft.queries.TextAnalysis.t29Sql, // converged reading = batch
    "x30_stream_funnel"        -> graft.queries.Relational.q21Sql, // same final counters
    "x33_stream_funnel_buffered" -> graft.queries.Relational.q21Sql, // exact fold incl. late arrivals
    "x34_stream_index_ingest"  -> graft.queries.Similarity.s18DeltaCodesSql,
    "x29_stream_heavy_hitters" -> graft.queries.TextAnalysis.t17Sql, // sketch never misses
    "x28_stream_bm25"          -> graft.queries.TextAnalysis.t27Sql, // same answers online
    "x27_stream_perplexity"    -> graft.queries.TextAnalysis.t26Sql, // same rows online
    "x22_stream_incr_dedup"    -> graft.queries.Dedup.d12Sql, // same final rows
    "x21_tws_admission"        -> x19Sql, // identical admission decisions
    "x26_stream_ann_topk"      -> graft.queries.Similarity.s3Sql,
    // the online serve is the depth-∞ posture of s22's trained-router
    // form (see x38's scaladoc): the same CTE chain with the shortlist
    // depth at corpus scale, probes at the serving width
    "x38_stream_sq8_serve"     -> graft.queries.Similarity.s22SqlAt(
      graft.queries.Similarity.Sq8DepthUnbounded,
      graft.queries.Similarity.ServingNprobe),
    "x39_stream_release_admission" -> x39Sql,
    // c14's exact relation online — shared oracle (final-value fidelity)
    "x40_stream_quality_gate"  -> graft.queries.Pipeline.c14Sql,
    "x25_stream_chunk_dedup"   -> x25Sql,
    "x24_stream_chunking"      -> graft.queries.TextAnalysis.t23Sql,
    "x20_stream_packing"       -> x20Sql,
    "x19_stream_admission"     -> x19Sql,
    "x18_stream_window_topk"   -> graft.queries.Windows.w11Sql,
    "x1_stream_sliding_counts" -> graft.queries.Windows.w2Sql,
    "x2_stream_running_sum"    -> graft.queries.Stateful.st4Sql,
    "x3_stream_resolver"       -> graft.queries.Graph.st1Sql,
    "x3_timer_resolver"        -> graft.queries.Graph.st1Sql,
    "x7_stream_features"       -> graft.queries.Stateful.st2Sql,
    "x35_stream_signature"     -> graft.queries.Stateful.st6Sql, // same flags
    "x36_stream_media_ingest"  -> graft.queries.Multimodal.m9SettledOnlySql,
    "x37_stream_decontam"      -> graft.queries.TextAnalysis.t14Sql, // same relation online

    "x8_stream_dedup"          -> x8Sql,
    "x9_tws_running_sum"       -> graft.queries.Stateful.st4Sql,
    "x10_tws_timer_resolver"   -> graft.queries.Graph.st1Sql,
    "x4_stream_sessions"       -> graft.queries.Windows.w9Sql,
    "x23_stream_dyn_sessions"  -> graft.queries.Windows.w12Sql, // same final rows
    "x5_stream_static_join"    -> x5Sql,
    "x11_stream_stream_join"   -> x11Sql,
    "x12_stream_outer_join"    -> x12Sql,
    "x13_stream_dedup_watermark" -> x13Sql,
    "x14_stream_ewma"          -> graft.queries.Stateful.st7Sql,
    "x15_stream_ohlc"          -> graft.queries.Windows.w10Sql,
    "x16_late_refinement"      -> x16Sql,
    "x17_stream_full_outer"    -> x17Sql)
}
