package graft

import java.nio.file.{Files, Paths, Path}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.Streams
import graft.streaming.Streams.Ev

/** L6 checkpoint/restart: the reference checkpoints RocksDB state every 10 s
  * with fixed-delay restart (session-9/wiki-edits FlinkKafkaConsumer
  * enableCheckpointing + RocksDBStateBackend); the Structured Streaming
  * equivalent is `checkpointLocation` + the state store. These specs
  * exercise it for real: a stateful running-sum query is KILLED mid-replay,
  * restarted from its checkpoint, and the union of all committed
  * micro-batch outputs must still equal the batch st4 result exactly —
  * no lost state, no double-counted events. A second run uses the RocksDB
  * state-store provider.
  */
class CheckpointRestartSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** events split into `n` parquet chunk files in (ts, event_id) order —
    * multiple micro-batches with per-user order preserved across batches. */
  private def chunkedStreamDir(n: Int): Path =
    chunkedStreamDirCols(n, s"events_chunked_$n",
      Seq("event_id", "user_id", "ts", "value"))

  private def chunkedStreamDirCols(n: Int, name: String,
      cols: Seq[String]): Path = {
    val streamDir = Paths.get("/tmp/graft_stream",
      dir.replaceAll("[^A-Za-z0-9.]", "_"), name)
    val doneMarker = streamDir.resolve(s"${n - 1}_chunk.parquet")
    if (!Files.exists(doneMarker)) {
      Files.createDirectories(streamDir)
      val ev = Tables.events(spark, dir)
        .select(cols.map(col): _*)
        .withColumn("_rk", row_number().over( // test setup, not a query plan
          Window.orderBy(col("ts"), col("event_id"))))
      val total = ev.count()
      (0 until n).foreach { k => // sequential writes: mtime order = name order
        val lo = k * total / n + 1; val hi = (k + 1) * total / n
        val tmp = streamDir.resolve(s"_build_$k")
        ev.filter(col("_rk").between(lo, hi)).drop("_rk")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, streamDir.resolve(s"${k}_chunk.parquet"))
        Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
    streamDir
  }

  /** Start the stateful running-sum over the chunked source with a
    * checkpoint, sinking each micro-batch IDEMPOTENTLY (overwrite by batch
    * id — the production exactly-once discipline for replayed batches). */
  private def startQuery(src: Path, ckpt: String, out: String,
                         availableNow: Boolean) = {
    val schema = spark.read.parquet(src.resolve("0_chunk.parquet").toString).schema
    val ds: Dataset[Ev] = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[Ev]
    Streams.runningSumStateful(ds).toDF().writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch_$id")
      }
      // 500 ms between triggers leaves a wide window to kill the query
      // between micro-batches while files are still pending
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(500))
      .start()
  }

  private def committedBatches(out: String): Seq[String] = {
    val d = new java.io.File(out)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
      .map(_.getAbsolutePath)
  }

  private def batchResult(out: String): Set[Seq[Any]] =
    spark.read.parquet(committedBatches(out): _*)
      .collect().map(_.toSeq).toSet

  private lazy val expected: Set[Seq[Any]] =
    queries.Stateful.st4_running_user_sum(spark, dir)
      .collect().map(_.toSeq).toSet

  test("stateful query killed mid-replay resumes from checkpoint exactly-once") {
    val src = chunkedStreamDir(4)
    val base = Files.createTempDirectory("graft_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    // run 1: kill after ≥2 of the 4 micro-batches committed
    val q1 = startQuery(src, ckpt, out, availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val afterKill = batchResult(out)
    assert(afterKill != expected, "kill happened too late to test restart")
    // run 2: restart from the SAME checkpoint; state must be restored
    val q2 = startQuery(src, ckpt, out, availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expected)
  }

  test("stream-stream join killed mid-replay resumes exactly-once") {
    // L6 on JOIN state: both sides' buffered-but-unmatched rows live in the
    // state store; a kill between micro-batches must lose no pending match
    // and re-emit none already committed. Same discipline as the
    // running-sum test — idempotent per-batch sink, kill after >=2 of 4
    // batches, restart from the same checkpoint, final union == batch join.
    val src = chunkedStreamDirCols(4, "events_chunked_join4",
      Seq("event_id", "user_id", "ts", "event_type"))
    val base = Files.createTempDirectory("graft_join_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def startJoin(availableNow: Boolean) = {
      val schema = spark.read.parquet(src.resolve("0_chunk.parquet").toString).schema
      def side() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
      val purchases = side().filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
                col("ts").as("p_ts"))
        .withWatermark("p_ts", "30 minutes")
      val clicks = side().filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
                col("ts").as("c_ts"))
        .withWatermark("c_ts", "30 minutes")
      purchases.join(clicks,
          col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
        .select(col("p_id"), col("c_id"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startJoin(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val q2 = startJoin(availableNow = true)
    q2.awaitTermination()
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("ts").as("c_ts"))
    val expectedJoin = p.join(c,
        col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_id"), col("c_id"))
      .collect().map(_.toSeq).toSet
    assert(batchResult(out) == expectedJoin)
  }

  test("same flow under the RocksDB state-store provider") {
    val src = chunkedStreamDir(4)
    val base = Files.createTempDirectory("graft_rocks_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q1 = startQuery(src, ckpt, out, availableNow = false)
      val deadline = System.currentTimeMillis() + 120000
      while (q1.isActive && committedBatches(out).size < 2 &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val q2 = startQuery(src, ckpt, out, availableNow = true)
      q2.awaitTermination()
      assert(batchResult(out) == expected)
      // the checkpoint really carries RocksDB state artifacts
      val stateFiles = Files.walk(Paths.get(ckpt, "state")).iterator()
      val hasRocks = scala.jdk.CollectionConverters.IteratorHasAsScala(stateFiles)
        .asScala.exists(p => p.toString.endsWith(".zip") ||
                             p.toString.contains("rocksdb") ||
                             p.toString.endsWith(".sst"))
      assert(hasRocks, "no RocksDB artifacts under the checkpoint state dir")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("complete-mode sketch aggregation killed mid-replay keeps pre-kill counts") {
    // L6 on the x29 class: a Misra-Gries typed-Aggregator buffer held as
    // complete-mode streaming aggregation state. The source is engineered
    // so the ONLY true heavy hitter ("alpha", 60 of 146 tokens, threshold
    // N/(k+1) = 36.5) lives entirely in the first two chunks: a restart
    // that lost the aggregation buffer could never re-discover it from the
    // remaining chunks, so the never-miss guarantee after restart proves
    // the state survived — not merely that the query resumed.
    val srcDir = Files.createTempDirectory("graft_mg_src_")
    val chunks = Seq(
      Seq.fill(30)("alpha") ++ Seq("b1", "b2", "b3"),
      Seq.fill(30)("alpha") ++ Seq("c1", "c2", "c3"),
      (1 to 40).map(i => s"d$i"),
      (1 to 40).map(i => s"e$i"))
    def writeChunk(k: Int): Unit = {
      val tmp = srcDir.resolve(s"_build_$k")
      chunks(k).toDF("tok").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, srcDir.resolve(s"${k}_chunk.parquet"))
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
    // Only the two alpha chunks exist before the kill — a fast run cannot
    // outrun the stop into chunks 3-4, so the post-restart never-miss
    // assertion can never be satisfied without the aggregation state
    // actually surviving the restart (the d/e chunks alone cannot
    // re-discover alpha).
    (0 to 1).foreach(writeChunk)
    val base = Files.createTempDirectory("graft_mg_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def startSketch(availableNow: Boolean) = {
      val schema = spark.read.parquet(srcDir.resolve("0_chunk.parquet").toString).schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .as[String]
        .select(new graft.functions.MisraGriesAgg(3).toColumn.name("cands"))
        .toDF("cands")
        .writeStream
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startSketch(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    (2 to 3).foreach(writeChunk)
    val q2 = startSketch(availableNow = true)
    q2.awaitTermination()
    // complete mode: the LAST committed batch is the full answer
    val lastBatch = committedBatches(out)
      .maxBy(p => p.split("_").last.toLong)
    val cands = spark.read.parquet(lastBatch)
      .collect().head.getSeq[String](0)
    assert(cands.contains("alpha"),
      s"pre-kill heavy hitter lost across restart: $cands")
    assert(cands.length <= 3, s"sketch capacity exceeded: $cands")
  }

  test("watermark-buffered funnel killed mid-replay keeps buffer + finalized machine") {
    // L6 on the x33 class: state = the finalized q21 machine PLUS the
    // watermark-horizon reorder buffer. A restart that lost either would
    // corrupt the final counters — a lost buffer drops the held events
    // entirely; a lost machine re-folds only the post-kill chunks. The
    // per-user final snapshot (max n_seen) across all committed batches
    // must equal the batch q21 result exactly, over the genuinely
    // out-of-order jittered replay.
    val src = Streams.replayStreamDirCols(spark, dir, "events_replay_funnel",
      Seq("user_id", "event_type"))
    val base = Files.createTempDirectory("graft_funnel_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val expectedFun: Set[Seq[Any]] = queries.Relational.q21_funnel(spark, dir)
      .collect().map(_.toSeq).toSet
    def startFun(availableNow: Boolean) = {
      val schema = spark.read.parquet(src.resolve("0_chunk.parquet").toString).schema
      val tag = when(col("event_type") === "view", 0)
        .when(col("event_type") === "click", 1).otherwise(2)
      val ds = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withWatermark("ts", "30 minutes")
        .filter(col("user_id") >= 0 &&
                col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
                unix_micros(col("ts")).as("t"), tag.as("tag"))
        .as[Streams.FunBufEv]
      Streams.funnelBufferedStateful(ds).toDF().writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startFun(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    // 5 source files: if an unusually fast run committed them all before
    // the stop, the restart would be a no-op and the state-survival claim
    // vacuous — cancel rather than pass vacuously
    assume(committedBatches(out).size < 5, "all batches committed before kill")
    val q2 = startFun(availableNow = true)
    q2.awaitTermination()
    val got = spark.read.parquet(committedBatches(out): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("n_seen").desc)))
      .filter(col("rn") === 1 && col("n_step3") >= 1)
      .select(col("user_id"), col("n_views"), col("n_step2"), col("n_step3"))
      .collect().map(_.toSeq).toSet
    assert(got == expectedFun)
  }

  test("admission quota killed mid-replay resumes exactly-once (no re-admission)") {
    // L6 on the RATE-LIMITER state: if the admitted-count ValueState were
    // lost at restart, the replayed batches would re-admit up to 5 MORE
    // events per user (extra rows); if replay double-counted, legitimate
    // admissions would be denied (missing rows). The union of committed
    // batches must equal the batch order statistic exactly.
    val src = chunkedStreamDir(4)
    val base = Files.createTempDirectory("graft_adm_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val expectedAdm: Set[Seq[Any]] = Tables.events(spark, dir)
      .withColumn("admit_seq", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
        .cast("long"))
      .filter(col("admit_seq") <= 5)
      .select(col("event_id"), col("user_id"), col("admit_seq"))
      .collect().map(_.toSeq).toSet
    def startAdm(availableNow: Boolean) = {
      val schema = spark.read.parquet(src.resolve("0_chunk.parquet").toString).schema
      val ds: Dataset[Ev] = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .select(col("event_id"), col("user_id"),
                unix_micros(col("ts")).as("tsMicros"), col("value"))
        .as[Ev]
      Streams.admissionStateful(ds, 5L).toDF().writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startAdm(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val q2 = startAdm(availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expectedAdm)
  }

  test("index-ingest write path killed mid-replay resumes exactly-once (x34)") {
    // L6 on the INDEX WRITE PATH: x34 is stateless per row, so its restart
    // contract is pure source-offset resume — a kill between micro-batches
    // must neither re-emit codes for already-committed delta vectors
    // (duplicate index entries) nor skip pending ones (lost writes). The
    // union of committed batches must equal the batch s18 delta fold's
    // code table exactly.
    val srcDir = Paths.get("/tmp/graft_stream",
      dir.replaceAll("[^A-Za-z0-9.]", "_"), "emb_chunked_4")
    val doneMarker = srcDir.resolve("3_chunk.parquet")
    if (!Files.exists(doneMarker)) {
      Files.createDirectories(srcDir)
      val emb = Tables.embeddings(spark, dir)
        .withColumn("_rk", row_number().over( // test setup, not a query plan
          Window.orderBy(col("vec_id"))))
      val total = emb.count()
      (0 until 4).foreach { k =>
        val lo = k * total / 4 + 1; val hi = (k + 1) * total / 4
        val tmp = srcDir.resolve(s"_build_$k")
        emb.filter(col("_rk").between(lo, hi)).drop("_rk")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, srcDir.resolve(s"${k}_chunk.parquet"))
        Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
    val base = Files.createTempDirectory("graft_x34_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val idxS = graft.queries.Similarity.ivfpqSettledIndex(spark, dir)
    val (_, _, codesD) = graft.queries.Similarity.s18DeltaFold(spark, dir, idxS)
    val expectedCodes: Set[Seq[Any]] = codesD
      .select(col("vec_id"), col("cell"), col("j"), col("c"))
      .collect().map(_.toSeq).toSet
    def startIngest(availableNow: Boolean) = {
      val schema = spark.read.parquet(srcDir.resolve("0_chunk.parquet").toString).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      Streams.x34Encode(spark, dir)(src).writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startIngest(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val q2 = startIngest(availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expectedCodes)
  }

  /** The 4-chunk documents source shared by the ingest-gate restart tests
    * (x37, x40): the docs table split into four parquet files so
    * maxFilesPerTrigger=1 yields four micro-batches to kill between.
    * Built once, guarded by the last chunk's presence. */
  private def chunkedDocs4(): java.nio.file.Path = {
    val srcDir = Paths.get("/tmp/graft_stream",
      dir.replaceAll("[^A-Za-z0-9.]", "_"), "docs_chunked_4")
    val doneMarker = srcDir.resolve("3_chunk.parquet")
    if (!Files.exists(doneMarker)) {
      Files.createDirectories(srcDir)
      val docs = Tables.documents(spark, dir)
        .withColumn("_rk", row_number().over( // test setup, not a query plan
          Window.orderBy(col("doc_id"))))
      val total = docs.count()
      (0 until 4).foreach { k =>
        val lo = k * total / 4 + 1; val hi = (k + 1) * total / 4
        val tmp = srcDir.resolve(s"_build_$k")
        docs.filter(col("_rk").between(lo, hi)).drop("_rk")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, srcDir.resolve(s"${k}_chunk.parquet"))
        Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
    srcDir
  }

  test("contamination gate killed mid-replay emits each verdict exactly once (x37)") {
    // L6 on the INGEST GATE: x37's only state is the in-trigger gather
    // (never written), so its restart contract is pure source-offset
    // resume — a kill between micro-batches must neither re-emit verdicts
    // for already-committed training docs nor skip pending ones. The
    // union of committed batches must equal t14's batch relation exactly.
    val srcDir = chunkedDocs4()
    val base = Files.createTempDirectory("graft_x37_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val expectedPairs: Set[Seq[Any]] =
      queries.TextAnalysis.t14_contamination(spark, dir)
        .collect().map(_.toSeq).toSet
    def startGate(availableNow: Boolean) = {
      val schema = spark.read.parquet(srcDir.resolve("0_chunk.parquet").toString).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      Streams.x37Gate(spark, dir)(src).toDF().writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startGate(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val q2 = startGate(availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expectedPairs)
  }

  test("trained quality gate killed mid-replay emits each verdict exactly once (x40)") {
    // L6 on the MODEL GATE: like x37, x40's only state is the in-trigger
    // margin gather (never written) — restart is pure source-offset
    // resume against the frozen (w, bias, τ) artifacts, which are
    // re-staged deterministically on the restarted session. The union of
    // committed batches must equal c14's batch relation exactly.
    val srcDir = chunkedDocs4()
    val base = Files.createTempDirectory("graft_x40_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val expectedRows: Set[Seq[Any]] =
      queries.Pipeline.c14_quality_classifier(spark, dir)
        .collect().map(_.toSeq).toSet
    def startGate(availableNow: Boolean) = {
      val schema = spark.read.parquet(srcDir.resolve("0_chunk.parquet").toString).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      Streams.x40Gate(spark, dir)(src).toDF().writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val q1 = startGate(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val q2 = startGate(availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expectedRows)
  }

  test("shard placement killed mid-replay resumes the exact stage offsets (x41)") {
    // L6 on the PLACEMENT state — unlike x37/x40, x41's state genuinely
    // CROSSES triggers (the per-stage running token offset), so a lost or
    // double-counted offset after restart shifts EVERY subsequent
    // placement in that stage. The union of committed batches after a
    // mid-replay kill must equal an uninterrupted run of the identical
    // chunked source byte-for-byte (same frozen artifacts re-staged
    // deterministically on both paths).
    val srcDir = chunkedDocs4()
    val base = Files.createTempDirectory("graft_x41_ckpt_").toString
    def startPlace(ckpt: String, out: String, availableNow: Boolean) = {
      val schema = spark.read.parquet(srcDir.resolve("0_chunk.parquet").toString).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      Streams.x41Place(spark, dir)(src).toDF().writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    // the uninterrupted reference run: own checkpoint, one AvailableNow pass
    val ref = startPlace(s"$base/ckpt_ref", s"$base/out_ref", availableNow = true)
    ref.awaitTermination()
    val expected = batchResult(s"$base/out_ref")
    assert(expected.nonEmpty)
    // the killed run: progress at least two micro-batches, kill, resume
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val q1 = startPlace(ckpt, out, availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    val q2 = startPlace(ckpt, out, availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expected)
  }

  test("global signature killed mid-replay resumes the exact decimal sums (x35)") {
    // L6 on the x35 state shape — the string-encoded exact decimal sums
    // plus the per-user shift-register map: a flag decision in a
    // post-restart batch depends on conditional sums accumulated before
    // the kill, so any loss or double-count in the restored state shifts
    // a mean and flips a threshold verdict. Union of committed batches
    // must equal the batch st6 fold exactly.
    val src = chunkedStreamDirCols(4, "events_chunked_sig4",
      Seq("event_id", "user_id", "ts", "value", "event_type", "props"))
    val base = Files.createTempDirectory("graft_sig_ckpt_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def startSig(availableNow: Boolean) = {
      val schema = spark.read.parquet(src.resolve("0_chunk.parquet").toString).schema
      val ds = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .select(col("event_id"), col("user_id"),
                unix_micros(col("ts")).as("tsMicros"), col("value"),
                col("event_type"), col("props"))
        .as[Streams.FEv]
      Streams.signatureStateful(ds).toDF().writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .trigger(if (availableNow) Trigger.AvailableNow()
                 else Trigger.ProcessingTime(500))
        .start()
    }
    val expectedSig = graft.queries.Stateful
      .st6_conditional_signature(spark, dir)
      .collect().map(_.toSeq).toSet
    val q1 = startSig(availableNow = false)
    val deadline = System.currentTimeMillis() + 120000
    while (q1.isActive && committedBatches(out).size < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(committedBatches(out).size >= 2, "no progress before kill")
    q1.stop(); q1.awaitTermination()
    assert(batchResult(out) != expectedSig, "kill happened too late to test restart")
    val q2 = startSig(availableNow = true)
    q2.awaitTermination()
    assert(batchResult(out) == expectedSig,
      "restored signature state must continue the fold bit-exactly")
  }
}
