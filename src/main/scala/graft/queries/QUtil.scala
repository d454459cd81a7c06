package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Shared numeric helpers for cross-engine (Spark ↔ DuckDB oracle)
  * parity, the staging registry and the concurrent-leg runner. */
object QUtil {
  /** Round-half-up as pure double arithmetic (`floor(x·10ⁿ+0.5)/10ⁿ`).
    * Unlike `round()` — which Spark evaluates on the decimal string
    * representation and DuckDB on the binary value, disagreeing on exact
    * .5-boundary quotients — this is the same IEEE op sequence in both
    * engines, hence bit-identical. The matching oracle-SQL form is
    * `floor(x * 10000.0 + 0.5) / 10000.0`. */
  def round4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
  def round2(c: Column): Column = floor(c * lit(100.0) + lit(0.5)) / lit(100.0)
  /** 6-dp variant — used to pin transcendental intermediates (ln/exp differ
    * by ≤1 ulp across libm implementations) to a cross-engine-stable grid
    * BEFORE further arithmetic, so downstream products stay bit-identical. */
  def round6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** The session-scoped staging registry: intermediates that several
    * queries of one session consume (trained centroids, settled indexes,
    * verified pair tables) are built once per `(session, key)` and shared.
    * `key` is a tuple whose first element names the family, e.g.
    * `("coarse", dir, ex, k)`; one key always maps to one value type.
    *
    * Sessions are compared by reference, and entries of stopped contexts
    * are evicted on each miss. The map stores a memoized thunk, so the
    * Spark build runs outside the map's bin lock: concurrent callers of
    * one key wait for the first builder, and a builder may stage other
    * keys. A builder must not request its own key (it would wait on
    * itself). A build that throws removes its entry before rethrowing,
    * so the next call builds again. Staged frames are `localCheckpoint`ed:
    * their lineage is truncated, so unpersist their blocks only after
    * [[clearStaged]], or a later consumer fails instead of recomputing. */
  def stage[V <: AnyRef](s: SparkSession, key: Product)(build: => V): V = {
    val k = (s, key)
    var thunk = staged.get(k)
    if (thunk == null) {
      staged.keySet.removeIf(_._1.sparkContext.isStopped)
      val mine = new (() => AnyRef) { lazy val v: AnyRef = build; def apply(): AnyRef = v }
      thunk = Option(staged.putIfAbsent(k, mine)).getOrElse(mine)
    }
    try thunk().asInstanceOf[V]
    catch { case t: Throwable => staged.remove(k, thunk); throw t }
  }

  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Product), () => AnyRef]()

  /** Forget every staged intermediate of every session. */
  def clearStaged(): Unit = staged.clear()

  /** Run independent eager bodies as concurrent Spark jobs and return
    * their results in argument order. Overlapping independent job chains
    * lets one chain's scheduling gaps and straggler tails run the other's
    * tasks. Each leg runs on its own pool thread with the session
    * re-activated and a per-call Spark job tag added. Pool threads inherit
    * the tags of the calling thread, so a nested call's jobs also carry
    * the outer tag. When a leg fails, every job carrying this call's tag
    * is cancelled, the other legs are interrupted, and the leg's own
    * exception (not the `ExecutionException`) is rethrown. */
  def parAll[A](s: SparkSession)(legs: (() => A)*): Seq[A] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
    val sc = s.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    @volatile var failed = false
    val pool = Executors.newFixedThreadPool(legs.size)
    val done = new ExecutorCompletionService[A](pool)
    try {
      val futures = legs.map(leg => done.submit { () =>
        SparkSession.setActiveSession(s)
        sc.addJobTag(tag)
        try leg()
        finally {
          // a job submitted after the cancel below still carries the tag
          if (failed) sc.cancelJobsWithTag(tag)
          sc.removeJobTag(tag)
        }
      })
      try legs.foreach(_ => done.take().get())
      catch { case t: Throwable =>
        failed = true
        sc.cancelJobsWithTag(tag)
        throw (t match { case e: ExecutionException => e.getCause; case _ => t })
      }
      futures.map(_.get())
    } finally pool.shutdownNow()
  }

  /** [[parAll]] over two legs of different types. */
  def par2[A, B](s: SparkSession)(fa: => A, fb: => B): (A, B) = {
    val Seq(a, b) = parAll[Any](s)(() => fa, () => fb)
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }

  /** Number of dictionary buckets for [[denseIds]] / [[denseIdsSqlCte]]. */
  val DictBuckets = 64

  /** Cheap engine-portable bucket of a string: first char code ·31 + second
    * char code (space-padded) ·7 + length, mod [[DictBuckets]]. The char-code
    * path is gated on the first two chars being ASCII — `ascii()` is only
    * engine-portable there (Spark returns the first UTF-8 byte, signed and
    * negative for multibyte chars; DuckDB returns the Unicode code point, so
    * ascii('é') diverges). Non-ASCII-prefixed values fall back to
    * char-length·31 + byte-length·7, identical in both engines, and the
    * result is normalized non-negative (`pmod` / `((x%B)+B)%B`). Exact
    * integer arithmetic throughout. */
  private def bucketOf(v: Column): Column = {
    val asciiSafe = substring(v, 1, 2).rlike("^[\\x01-\\x7f]*$")
    val raw = when(asciiSafe,
        ascii(substring(v, 1, 1)) * lit(31) +
        ascii(substring(concat(v, lit(" ")), 2, 1)) * lit(7) + length(v))
      .otherwise(length(v) * lit(31) + octet_length(v) * lit(7))
    pmod(raw, lit(DictBuckets))
  }

  /** The DuckDB twin of [[bucketOf]] as a SQL fragment over column `c`. */
  private def bucketSql(c: String): String =
    s"""(((CASE WHEN regexp_matches(substr($c, 1, 2), '^[\\x01-\\x7f]*$$')
       |    THEN ascii(substr($c, 1, 1)) * 31
       |         + ascii(substr($c || ' ', 2, 1)) * 7 + length($c)
       |    ELSE length($c) * 31 + strlen($c) * 7 END)
       |  % $DictBuckets + $DictBuckets) % $DictBuckets)""".stripMargin.replace("\n", " ")

  /** Distributed exact dense ids over the distinct values of `valueCol`:
    * rank within a hash bucket (a PARTITIONED window — parallel across
    * buckets) + prefix-summed bucket offsets (a window over only
    * [[DictBuckets]] rows). Ids are a deterministic permutation of 1..N —
    * the scale-safe replacement for `dense_rank().over(Window.orderBy(...))`,
    * whose single-partition global sort of every distinct token is a
    * 100 TB bottleneck. [[denseIdsSqlCte]] is the DuckDB twin computing the
    * identical assignment. */
  def denseIds(distinctVals: org.apache.spark.sql.DataFrame, valueCol: String,
               idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol)
    // materialized: both the ranked branch and the offsets branch consume it,
    // and DataFrames do not share subplans — without this the upstream
    // distinct-vocabulary pipeline (scan+explode+distinct) executes twice
    val withB = distinctVals.select(v).withColumn("_bkt", bucketOf(v))
      .localCheckpoint()
    val ranked = withB.withColumn("_rk",
      row_number().over(Window.partitionBy(col("_bkt")).orderBy(v)).cast("long"))
    val offsets = withB.groupBy(col("_bkt")).agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(
        Window.orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bkt"), col("_off"))
    // offsets has exactly DictBuckets rows — a bounded, safely-broadcast side
    ranked.join(broadcast(offsets), Seq("_bkt"))
      .select(v, (col("_off") + col("_rk")).as(idCol))
  }

  /** DuckDB CTE body computing the same bucketed dense ids as [[denseIds]].
    * `src` must be a CTE/table of DISTINCT `valueCol` values; emits a
    * relation (valueCol, idCol). Splice as
    * `s"dict AS (${denseIdsSqlCte("srcCte", "tok", "tok_id")})"`. */
  def denseIdsSqlCte(src: String, valueCol: String, idCol: String): String =
    s"""SELECT $valueCol, (off + rk)::BIGINT AS $idCol FROM (
       |    SELECT $valueCol, bkt,
       |           row_number() OVER (PARTITION BY bkt ORDER BY $valueCol) AS rk
       |    FROM (SELECT $valueCol,
       |            ${bucketSql(valueCol)} AS bkt FROM $src)
       |  ) JOIN (
       |    SELECT bkt, coalesce(sum(n) OVER (ORDER BY bkt
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |    FROM (SELECT ${bucketSql(valueCol)} AS bkt, count(*) AS n
       |          FROM $src GROUP BY 1)
       |  ) USING (bkt)""".stripMargin
}
