package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{Graph, LdbcE2E}
import graft.sources.ActivityParser

/** Timed direct calls into the ingest and resolver layers of the traced
  * run, outside any pass: the expression parser on the synthesized wire
  * lines, the DataSource V2 reader and writer, and `Graph.resolveRoots`. */
object Direct {
  def measure(spark: SparkSession, data: String, dir: String, jobs: JobProbe,
              now: () => Double): Map[String, Double] = {
    val s = spark.newSession()
    def timed(body: => Unit): Double = { val t0 = now(); body; (now() - t0) / 1000 }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    var good, bad = 0L
    val parseS = timed {
      val (g, b) = ActivityParser.fromTaggedWithErrors(LdbcE2E.taggedWireLines(s, data))
      good = g.count(); bad = b.count()
    }

    LdbcE2E.taggedWireLines(s, data).coalesce(1).write.mode("overwrite").text(s"$dir/lines")
    // the part file, not its hidden checksum; the checkout path may hold dots
    val linesFile = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/lines")).iterator()
      .asScala.find { p => val n = p.getFileName.toString; n.endsWith(".txt") && !n.startsWith(".") }
      .map(_.toString)
      .getOrElse(sys.error(s"no part file written under $dir/lines"))
    val reader = s.read.format("graft.sources.ActivityDataSource")
    val readS = timed(noop(reader.load(linesFile)))
    val parsed = reader.load(linesFile).localCheckpoint()
    val writeS = timed(parsed.write.format("graft.sources.ActivityDataSource")
      .mode("overwrite").save(s"$dir/written"))

    val edges = parsed.filter(col("type") =!= "tombstone" && col("type") =!= "error")
      .select(col("event_id").cast("long").as("event_id"),
        when(col("type") === "post", lit(null).cast("long"))
          .when(col("type") === "comment", col("post_id").cast("long"))
          .otherwise(col("parent_id").cast("long")).as("parent_id"))
      .localCheckpoint()
    PerfbenchBus.drain(spark.sparkContext)
    val r0 = now()
    noop(Graph.resolveRoots(edges))
    val resolverS = (now() - r0) / 1000
    PerfbenchBus.drain(spark.sparkContext)
    val resolverJobs = jobs.jobs.asScala.count(j => j.startMs >= r0 && j.startMs <= r0 + resolverS * 1000 + 1)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Map("sources.parse_rows_per_s" -> (good + bad) / parseS,
      "sources.malformed_rows" -> bad.toDouble,
      "sources.dsv2_read_s" -> readS, "sources.dsv2_write_s" -> writeS,
      "resolver.s" -> resolverS, "resolver.jobs" -> resolverJobs.toDouble)
  }
}
