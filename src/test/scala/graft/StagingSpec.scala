package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.QUtil

/** The staging registry (`QUtil.stage`), the concurrent-leg runner
  * (`QUtil.parAll`) and the fingerprinted on-disk derived inputs. */
class StagingSpec extends SparkSpec {
  import StagingSpec._

  private def frame(n: Long): DataFrame = spark.range(n).toDF().localCheckpoint()

  test("a failed build is evicted: the next call rebuilds, the one after hits") {
    val builds = new AtomicInteger()
    def build(fail: Boolean): DataFrame = {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("build fails") else frame(10)
    }
    val key = ("spec-fail-once", 1)
    intercept[IllegalStateException](QUtil.stage(spark, key)(build(fail = true)))
    // the next call runs its own builder, not the failed one
    val rebuilt = QUtil.stage(spark, key)(build(fail = false))
    val hit = QUtil.stage(spark, key)(build(fail = false))
    assert(builds.get == 2)
    assert(hit eq rebuilt)
    assert(hit.count() == 10)
  }

  test("eight threads asking for one key build it once") {
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit { () =>
        go.await()
        QUtil.stage(spark, ("spec-race", 1)) {
          builds.incrementAndGet()
          Thread.sleep(200) // keep the build open while the others arrive
          frame(100)
        }
      })
      go.countDown()
      val results = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(results.forall(_ eq results.head))
    } finally pool.shutdownNow()
  }

  test("after clearStaged the next call rebuilds") {
    val builds = new AtomicInteger()
    def get(): DataFrame = QUtil.stage(spark, ("spec-clear", 1)) {
      builds.incrementAndGet(); frame(5)
    }
    get(); get()
    assert(builds.get == 1)
    QUtil.clearStaged()
    get()
    assert(builds.get == 2)
  }

  test("the same key in two sessions builds twice") {
    val builds = new AtomicInteger()
    val other = spark.newSession()
    for (s <- Seq(spark, other, spark, other))
      QUtil.stage(s, ("spec-sessions", 1)) { builds.incrementAndGet(); s.range(3).toDF().localCheckpoint() }
    assert(builds.get == 2)
  }

  test("parAll returns the legs' results in argument order") {
    assert(QUtil.parAll(spark)(() => frame(3).count(), () => 7L, () => frame(5).count()) ==
      Seq(3L, 7L, 5L))
    assert(QUtil.par2(spark)("a", 2) == ("a", 2))
  }

  /** A leg that waits for the slow job to run, then throws. */
  private def failOnceRunning(boom: Throwable): Long = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty) {
      assert(System.nanoTime() < deadline, "the slow job never started")
      Thread.sleep(20)
    }
    throw boom
  }

  private def assertJobsCancelled(): Unit = {
    val deadline = System.nanoTime() + 5L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty &&
           System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "the slow job was still running 5 s after the failure")
  }

  test("a failing leg cancels the other legs' Spark jobs and rethrows its own exception") {
    val boom = new IllegalStateException("leg failed")
    val thrown = intercept[IllegalStateException] {
      QUtil.parAll(spark)(() => slowCount(spark), () => failOnceRunning(boom))
    }
    assert(thrown eq boom)
    assertJobsCancelled()
  }

  test("the cancel reaches a slow job inside a nested par2") {
    val boom = new IllegalStateException("outer leg failed")
    val thrown = intercept[IllegalStateException] {
      QUtil.parAll(spark)(
        () => QUtil.par2(spark)(slowCount(spark), 0L)._1,
        () => failOnceRunning(boom))
    }
    assert(thrown eq boom)
    assertJobsCancelled()
  }

  test("replay chunks follow an events table rewritten in place") {
    val dir = Files.createTempDirectory("graft_staging_spec_")
    def writeEvents(ids: Range): Unit =
      spark.range(ids.start.toLong, ids.end.toLong + 1).select(
          col("id").as("event_id"),
          (lit(1700000000L) + col("id") * 60).cast("timestamp").as("ts"),
          (col("id") % 5).as("user_id"),
          lit("post").as("event_type"))
        .write.mode("overwrite").parquet(Tables.path(dir.toString, "events"))
    def replayed(): (Path, Set[Long]) = {
      val out = streaming.Streams.replayStreamDirCols(spark, dir.toString, "events_replay", Nil)
      (out, spark.read.parquet(out.toString).filter(col("event_id") =!= -1L)
        .select(col("event_id")).collect().map(_.getLong(0)).toSet)
    }
    try {
      writeEvents(1 to 40)
      val (first, before) = replayed()
      assert(before == (1L to 40L).toSet)
      writeEvents(101 to 130)
      val (second, after) = replayed()
      assert(second != first)
      assert(after == (101L to 130L).toSet)
    } finally {
      deleteTree(dir)
      deleteTree(streaming.Streams.derivedDir(dir.toString, "x").getParent)
    }
  }
}

object StagingSpec {
  /** Count four partitions whose tasks sleep until killed (or 60 s pass). */
  def slowCount(s: org.apache.spark.sql.SparkSession): Long =
    s.sparkContext.parallelize(1 to 4, 4).map { i =>
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline)
        Thread.sleep(20)
      i
    }.count()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
