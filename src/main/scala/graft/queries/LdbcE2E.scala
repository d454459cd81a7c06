package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.ActivityParser

/** End-to-end LDBC activity slice: wire-format lines → [[ActivityParser]] →
  * iterative root resolution → W1 tumbling counts, in ONE oracle-checked
  * query — proving the parser feeds the engine, not just its specs.
  *
  * The reference pipeline is Producer (pipe-delimited LDBC lines) →
  * `Activity.fromString` → PostIdResolver → ActivePostStatistician
  * (`SocialNetwork.java:70-100`). Here the same wire format is SYNTHESIZED
  * deterministically from the events table (each block of 7 ids is one
  * thread, the same binary-tree relation as `Graph.s9_subtree_drop`: post 7k,
  * top-level comments 7k+1 / 7k+2, replies 7k+3..7k+6), rendered as real
  * post/comment CSV lines, re-parsed by the production parser, resolved with
  * the pointer-doubling resolver, and aggregated into per-post per-hour
  * activity counts (`ActivePostStatistician`'s W1 pre-counts).
  *
  * The DuckDB oracle computes the same counts in closed form — so any
  * formatting, parsing, typing, or resolution defect in the round trip
  * breaks the hash match.
  *
  * Scale: formatting and parsing are per-row projections at scan speed (no
  * UDFs); resolution is ⌈log₂ depth⌉ shuffle joins; the final agg is one
  * shuffle on (window, root). */
object LdbcE2E {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("cdate"),
      (col("event_id") - (col("event_id") % 7)).as("block"),
      (col("event_id") % 7).as("i"),
      col("event_type"))

  // post line: id|personId|creationDate|imageFile|locationIP|browserUsed|language|content|tags|forumId|placeId
  private def postLines(ev: DataFrame): DataFrame =
    ev.filter(col("i") === 0).select(concat_ws("|",
      col("event_id"), col("user_id"), col("cdate"), lit(""), lit("10.0.0.1"),
      lit("Firefox"), lit("en"), col("event_type"), lit("[1, 2]"),
      col("block"), lit("5")).as("value"))

  // comment line: id|personId|creationDate|locationIP|browserUsed|content|reply_to_postId|reply_to_commentId|placeId
  // i ∈ {1,2} ⇒ Comment (direct child of the post); i ≥ 3 ⇒ Reply to 7k+(i−1)/2
  private def commentLines(ev: DataFrame): DataFrame =
    ev.filter(col("i") >= 1).select(concat_ws("|",
      col("event_id"), col("user_id"), col("cdate"), lit("10.0.0.2"),
      lit("Chrome"), col("event_type"),
      when(col("i") <= 2, col("block").cast("string")).otherwise(lit("")),
      when(col("i") >= 3, (col("block") + floor((col("i") - 1) / 2).cast("long")).cast("string"))
        .otherwise(lit("")),
      lit("7")).as("value"))

  /** The Kafka-topic form of the synthesized slice: 1-char-tagged lines. */
  def taggedWireLines(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    postLines(e).select(concat(lit("P|"), col("value")).as("value"))
      .unionByName(commentLines(e).select(concat(lit("C|"), col("value")).as("value")))
  }

  /** The shared downstream: unified activity rows → parent edges →
    * pointer-doubling resolution → W1 per-post hourly counts. */
  private def resolveAndCount(unified: DataFrame): DataFrame = {
    val edges = unified.select(
      col("event_id").cast("long").as("event_id"),
      when(col("type") === "post", lit(null).cast("long"))
        .when(col("type") === "comment", col("post_id").cast("long"))
        .otherwise(col("parent_id").cast("long")).as("parent_id"))

    val roots = Graph.resolveRoots(edges)

    unified.select(col("event_id").cast("long").as("event_id"), col("creation_ts"))
      .join(roots, Seq("event_id"))
      .groupBy(window(col("creation_ts"), "1 hour"), col("root_id"))
      .agg(count(lit(1)).as("n_activities"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
              col("root_id"), col("n_activities"))
      .orderBy("win_start", "root_id")
  }

  def ldbc_e2e(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val unified = ActivityParser.unified(
      ActivityParser.posts(postLines(e)),
      ActivityParser.comments(commentLines(e)),
      // the likes leg of the union is exercised with an empty frame — the
      // testdata has no likes stream; schema compatibility still checked
      ActivityParser.likes(postLines(e).limit(0)))
    resolveAndCount(unified)
  }

  /** The same pipeline with ingestion through the CUSTOM DataSource V2
    * reader ([[graft.sources.ActivityDataSource]]): tagged wire lines are
    * materialized to a text dir once (marker-cached per sf), read back via
    * `spark.read.format(...)`, filtered like `fromTagged`, and fed to the
    * identical resolve+window downstream — same closed-form oracle, so any
    * divergence between the row-level reader and the expression parser
    * breaks the hash. */
  def ldbc_dsv2(s: SparkSession, dir: String): DataFrame = {
    val unified = s.read.format("graft.sources.ActivityDataSource")
      .load(cachedWireLines(s, dir).toString)
      .filter(col("type") =!= "tombstone" && col("type") =!= "error")
    resolveAndCount(unified)
  }

  /** The materialized tagged-wire slice, built once per events
    * fingerprint (`Streams.eventsDerivedDir`): a regenerated sf dir must
    * not serve stale lines while the DuckDB oracle reads fresh parquet.
    * Shared by ldbc_dsv2 and ldbc_roundtrip. */
  private def cachedWireLines(s: SparkSession, dir: String): java.nio.file.Path = {
    import java.nio.file.Files
    import scala.util.Using
    val linesDir = graft.streaming.Streams.eventsDerivedDir(dir, "ldbc_lines")
    val marker = linesDir.resolve("lines.txt")
    if (!Files.exists(marker)) {
      Files.createDirectories(linesDir)
      val tmp = linesDir.resolve("_build")
      taggedWireLines(s, dir).coalesce(1).write.mode("overwrite").text(tmp.toString)
      val part = Using.resource(Files.list(tmp))(
        _.filter(_.toString.endsWith(".txt")).findFirst().get())
      Files.move(part, marker)
      Using.resource(Files.walk(tmp))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p)))
    }
    marker
  }

  /** The WRITE half of the DataSource V2 extension point on the oracle
    * path: parse the wire lines (ldbc_dsv2's cached slice), write the
    * unified rows BACK to the tagged format through the V2 batch writer
    * (two-phase commit, overwrite = `SupportsTruncate`), read the
    * re-serialized files with the same V2 reader, and run the identical
    * resolve→window pipeline — the closed-form oracle can only stay green
    * if `serializeLine ∘ parseLine` is the identity on every corpus row.
    * This is the Kafka-producer round trip (serialize → broker → consumer
    * re-parse) with files standing in for the env-blocked broker. */
  def ldbc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val parsed = s.read.format("graft.sources.ActivityDataSource")
      .load(cachedWireLines(s, dir).toString)
    val rt = Files.createTempDirectory("graft_ldbc_rt_").toString
    parsed.write.format("graft.sources.ActivityDataSource")
      .mode("overwrite").save(rt)
    val unified = s.read.format("graft.sources.ActivityDataSource")
      .load(rt)
      .filter(col("type") =!= "tombstone" && col("type") =!= "error")
    resolveAndCount(unified)
  }

  /** Closed-form twin: root = the id-block's post, hour bucket from the raw
    * timestamp (second-floored by the wire format, which cannot move an
    * event across an hour boundary). */
  val ldbcSql: String =
    """SELECT floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT AS win_start,
      |       event_id - (event_id % 7) AS root_id,
      |       count(*) AS n_activities
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ldbc_e2e"  -> (ldbc_e2e _),
    "ldbc_dsv2" -> (ldbc_dsv2 _),
    "ldbc_roundtrip" -> (ldbc_roundtrip _))

  val oracles: Map[String, String] = Map(
    "ldbc_e2e"  -> ldbcSql,
    "ldbc_dsv2" -> ldbcSql, // identical pipeline through the DSv2 reader
    "ldbc_roundtrip" -> ldbcSql) // parse → V2 write → re-parse → pipeline
}
