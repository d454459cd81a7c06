package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Transitive reply→post resolution and parent/child invariants —
  * SURVEY.md §2.3 ST1 (PostIdResolver) and §2.5 J4/J5.
  *
  * The reference resolves every Reply to its root Post by chasing parent
  * edges through memcached with event-time-timer retries
  * (PostIdResolver.java:26-225). Batch-exact Spark equivalent: iterative
  * self-join with POINTER DOUBLING — each round every node jumps to its
  * ancestor's ancestor, so a chain of depth d resolves in ⌈log₂ d⌉ rounds
  * (the reference's memoized shortcut edges, PostIdResolver.java:216-224,
  * are the same path compression). Each round is one shuffle join on the
  * pointer key + `localCheckpoint` to cut lineage — at 100 TB this is
  * log-depth × one shuffle, not depth × one shuffle.
  *
  * The driver testdata has no reply table, so the parent relation is derived
  * deterministically from `events`: event_id % 7 == 0 ⇒ root (a "post"),
  * otherwise parent = event_id − 1 (a "reply" chain of depth ≤ 6). The
  * DuckDB oracle resolves the same relation with a recursive CTE.
  */
object Graph {

  private def withParents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      when(col("event_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("event_id") - 1).as("parent_id"),
      col("ts"))

  /** Pointer-doubling transitive-root resolution over an arbitrary
    * (event_id, parent_id) relation — parent_id null ⇒ root. Reusable core
    * shared by the query entry and unit tests; ⌈log₂ depth⌉ shuffle-join
    * rounds, lineage cut per round with localCheckpoint. */
  def resolveRoots(edges: DataFrame, maxIters: Int = 64): DataFrame = {
    var cur = edges.select(
        col("event_id"),
        coalesce(col("parent_id"), col("event_id")).as("ptr"),
        col("parent_id").isNull.as("done"))
      .localCheckpoint()
    var remaining = cur.filter(!col("done")).count()
    var iter = 0
    while (remaining > 0 && iter < maxIters) {
      val p = cur.select(col("event_id").as("p_id"), col("ptr").as("p_ptr"),
                         col("done").as("p_done"))
      cur = cur.join(p, cur("ptr") === p("p_id"), "left")
        .select(
          cur("event_id"),
          when(cur("done"), cur("ptr")).otherwise(coalesce(col("p_ptr"), cur("ptr"))).as("ptr"),
          (cur("done") || coalesce(col("p_done"), lit(false))).as("done"))
        .localCheckpoint()
      remaining = cur.filter(!col("done")).count()
      iter += 1
    }
    require(remaining == 0, s"unresolved chains after $iter pointer-doubling rounds")
    cur.select(col("event_id"), col("ptr").as("root_id"))
  }

  /** ST1/J5: resolve every event to its root ancestor. */
  def st1_resolve_roots(s: SparkSession, dir: String): DataFrame =
    resolveRoots(withParents(s, dir)).orderBy("event_id")

  val st1Sql: String =
    """WITH RECURSIVE r(event_id, root_id) AS (
      |  SELECT event_id, event_id FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT e.event_id, r.root_id FROM events e
      |  JOIN r ON e.event_id - 1 = r.event_id
      |  WHERE e.event_id % 7 <> 0
      |)
      |SELECT event_id, root_id FROM r ORDER BY event_id""".stripMargin

  /** J4/S9: parent-before-child timestamp invariant (the cleaning
    * preprocessors, StreamsCleaner.java:63-83) — emit every child event whose
    * timestamp precedes its parent's. */
  def j4_ts_violations(s: SparkSession, dir: String): DataFrame = {
    val ev = withParents(s, dir)
    val parents = ev.select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    ev.filter(col("parent_id").isNotNull)
      .join(parents, col("parent_id") === col("p_id"))
      // compare at µs — the engines' COARSEST common precision (Spark
      // truncates the parquet ns to µs; raw comparisons would diverge on
      // pairs that differ only below a microsecond)
      .filter(unix_micros(col("ts")) < unix_micros(col("p_ts")))
      .select(col("event_id"), col("parent_id"))
      .orderBy("event_id")
  }

  val j4Sql: String =
    """SELECT c.event_id AS event_id, c.event_id - 1 AS parent_id
      |FROM events c JOIN events p ON c.event_id - 1 = p.event_id
      |WHERE c.event_id % 7 <> 0 AND epoch_ns(c.ts) // 1000 < epoch_ns(p.ts) // 1000
      |ORDER BY event_id""".stripMargin

  /** S9 OrderedFileChecker twin: per-user monotone-timestamp audit — count
    * of out-of-order arrivals (ts decreasing in event_id order) per user,
    * only users with violations reported. One shuffle on user_id; `lag`
    * analytic window (OrderedFileChecker.java:31-76 asserts the same
    * invariant file-wide). */
  def s9_order_audit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(s, dir)
      // µs — the engines' coarsest common precision (see j4)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull && col("us") < col("prev_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_out_of_order"))
      .orderBy("user_id")
  }

  val s9Sql: String =
    """WITH o AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |    lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_out_of_order
      |FROM o WHERE prev_us IS NOT NULL AND us < prev_us
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S9 subtree-drop cleaning (StreamsCleaner.java:23-204): the reference
    * walks every leaf-to-post path and, when ANY edge on a path violates
    * parent-before-child ordering, deletes the ENTIRE subtree rooted at the
    * offending top-level comment (the comment replying directly to the
    * post) — `toBeDeleted.add(topComment)` then
    * `toDelete.addAll(commentMap.get(commentId))`.
    *
    * Derived TREE relation (richer than st1's chains so subtree semantics are
    * non-trivial): each block of 7 ids is one thread — root post 7k, and
    * comment 7k+i (i=1..6) replying to 7k+(i−1)/2. That is a binary tree with
    * TWO top-level comments (7k+1, 7k+2) owning subtrees {1,3,4} and {2,5,6},
    * so one violating subtree never drops its sibling.
    *
    * Spark plan: one shuffle join child→parent for the violation scan
    * (second-floored timestamps — the engines disagree below Spark's µs
    * resolution), the iterative pointer-doubling resolver ([[resolveRoots]])
    * to assign every comment its top-level ancestor, then an anti-join
    * against the violating tops. Survivors out, exactly the cleaner's output
    * file. */
  def s9_subtree_drop(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir).select(
      col("event_id"), unix_timestamp(col("ts")).as("sec"),
      (col("event_id") - (col("event_id") % 7)).as("block"),
      (col("event_id") % 7).as("i"))
    val comments = c.filter(col("i") >= 1)
      .withColumn("parent_id", col("block") + floor((col("i") - 1) / 2).cast("long"))
    // resolve each comment to its TOP-LEVEL-COMMENT ancestor: top comments
    // (direct children of the post) act as roots of the pointer-doubled walk
    val topEdges = comments.select(
      col("event_id"),
      when(col("i") <= 2, lit(null).cast("long")).otherwise(col("parent_id")).as("parent_id"))
    val tops = resolveRoots(topEdges).withColumnRenamed("root_id", "top_id")
    // violation scan over EVERY comment edge (incl. the top-comment→post
    // edge, StreamsCleaner.java:154-157): parent not strictly before child
    val parents = c.select(col("event_id").as("p_id"), col("sec").as("p_sec"))
    val violatingTops = comments
      .join(parents, col("parent_id") === col("p_id"))
      .filter(col("p_sec") >= col("sec"))
      .join(tops, Seq("event_id"))
      .select(col("top_id")).distinct()
    comments.join(tops, Seq("event_id"))
      .join(violatingTops, Seq("top_id"), "left_anti")
      .select(col("event_id"), col("top_id"))
      .orderBy("event_id")
  }

  val s9SubtreeSql: String =
    """WITH c AS (
      |  SELECT event_id, floor(epoch(ts))::BIGINT AS sec,
      |         event_id - (event_id % 7) AS block, event_id % 7 AS i
      |  FROM events),
      |e AS (
      |  SELECT event_id, sec, block,
      |         block + CASE WHEN i IN (1, 3, 4) THEN 1 ELSE 2 END AS top_id,
      |         block + (i - 1) // 2 AS parent_id
      |  FROM c WHERE i >= 1),
      |v AS (
      |  SELECT DISTINCT e.top_id
      |  FROM e JOIN c p ON e.parent_id = p.event_id
      |  WHERE p.sec >= e.sec)
      |SELECT event_id, top_id FROM e
      |WHERE top_id NOT IN (SELECT top_id FROM v)
      |ORDER BY event_id""".stripMargin

  /** S9 recursive timestamp repair (OrderedFileGenerator.java:38-56
    * `recursiveFix`): walking each thread TOP-DOWN, a child whose timestamp
    * does not strictly follow its (already-repaired) parent is pushed past
    * it — `child' = child + 2·(parent − child)` = `2·parent − child`, or
    * `child + 20 s` when exactly equal (the reference's `2 × 10 s` floor).
    * The repaired value PROPAGATES: grandchildren compare against the fixed
    * parent, not the raw one.
    *
    * Spark plan: level-synchronous frontier iteration over the same
    * binary-tree thread relation as [[s9_subtree_drop]] — each round joins
    * the unrepaired children of the current frontier (one shuffle join),
    * applies the repair arithmetic, and checkpoints; rounds = tree depth,
    * the same wavefront shape a 100 TB comment forest needs. Second-floored
    * timestamps (documented divergence from the reference's millisecond
    * arithmetic: the engines only agree above Spark's µs truncation). */
  /** The repair wavefront over an arbitrary (event_id, parent_id, sec)
    * forest — parent_id null ⇒ root (timestamp kept). Returns the repaired
    * seconds of every NON-root node. Reusable core shared by the query entry
    * and the deep-chain unit test; rounds = forest depth, one shuffle join
    * per round, lineage cut with localCheckpoint. */
  def repairTimestamps(nodes: DataFrame): DataFrame = {
    val children = nodes.filter(col("parent_id").isNotNull)
      .localCheckpoint() // consumed once per wavefront round
    var frontier = nodes.filter(col("parent_id").isNull)
      .select(col("event_id"), col("sec").as("fixed")).localCheckpoint()
    var repaired = frontier.limit(0).localCheckpoint() // non-roots only
    var n = frontier.count()
    while (n > 0) {
      val parents = frontier.select(col("event_id").as("p_id"), col("fixed").as("p_fixed"))
      frontier = children
        .join(parents, col("parent_id") === col("p_id"))
        .withColumn("fixed",
          when(col("p_fixed") > col("sec"), lit(2L) * col("p_fixed") - col("sec"))
            .when(col("p_fixed") === col("sec"), col("sec") + 20L)
            .otherwise(col("sec")))
        .select(col("event_id"), col("fixed")).localCheckpoint()
      n = frontier.count()
      if (n > 0) repaired = repaired.union(frontier).localCheckpoint()
    }
    repaired
  }

  def s9_ts_repair(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir).select(
      col("event_id"), unix_timestamp(col("ts")).as("sec"),
      (col("event_id") - (col("event_id") % 7)).as("block"),
      (col("event_id") % 7).as("i"))
    val nodes = c.select(col("event_id"), col("sec"),
      when(col("i") === 0, lit(null).cast("long"))
        .otherwise(col("block") + floor((col("i") - 1) / 2).cast("long")).as("parent_id"))
    c.filter(col("i") >= 1).select(col("event_id"), col("sec"))
      .join(repairTimestamps(nodes), Seq("event_id"))
      .select(col("event_id"), col("sec").as("orig_s"), col("fixed").as("fixed_s"),
              when(col("fixed") =!= col("sec"), lit(1)).otherwise(lit(0)).as("repaired"))
      .orderBy("event_id")
  }

  /** Closed-form oracle for the depth-2 thread tree. */
  val s9RepairSql: String =
    """WITH c AS (
      |  SELECT event_id, floor(epoch(ts))::BIGINT AS sec,
      |         event_id - (event_id % 7) AS block, event_id % 7 AS i
      |  FROM events),
      |p AS (SELECT block, sec AS post_sec FROM c WHERE i = 0),
      |d1 AS (
      |  SELECT c.event_id, c.block, c.sec,
      |    CASE WHEN post_sec > sec THEN 2 * post_sec - sec
      |         WHEN post_sec = sec THEN sec + 20
      |         ELSE sec END AS fixed
      |  FROM c JOIN p USING (block) WHERE i IN (1, 2)),
      |d2 AS (
      |  SELECT c.event_id, c.sec,
      |    CASE WHEN d1.fixed > c.sec THEN 2 * d1.fixed - c.sec
      |         WHEN d1.fixed = c.sec THEN c.sec + 20
      |         ELSE c.sec END AS fixed
      |  FROM c JOIN d1 ON d1.event_id = c.block + CASE WHEN c.i IN (3, 4) THEN 1 ELSE 2 END
      |  WHERE c.i >= 3)
      |SELECT event_id, sec AS orig_s, fixed AS fixed_s,
      |       CASE WHEN fixed <> sec THEN 1 ELSE 0 END AS repaired
      |FROM (SELECT event_id, sec, fixed FROM d1
      |      UNION ALL SELECT event_id, sec, fixed FROM d2)
      |ORDER BY event_id""".stripMargin

  /** G1 PageRank (2 unrolled power iterations, d = 0.85) over the reply
    * forest — the influence measure of the social-graph family the
    * reference analyzes. Each iteration is one shuffle join (rank flows
    * child → parent along the st1 edge set) plus one aggregation: the
    * standard sparse mat-vec shape that scales linearly with |E| and never
    * materializes anything denser than the edge list. Root comments are
    * dangling (no out-edge); their leaked mass is NOT redistributed — the
    * documented simplification, identical in the oracle.
    *
    * Cross-engine determinism with NO floating point: ranks live on an
    * integer 10¹² grid — seed = SCALE div N, step = (15·seed) div 100 +
    * (85·Σ child ranks) div 100, all floor divisions. Out-degree is 1 for
    * every non-root, so the contribution sum needs no division. Exact
    * 64-bit arithmetic in both engines (DuckDB's HUGEINT sum is reduced
    * back by the div). */
  def g1_pagerank(s: SparkSession, dir: String): DataFrame = {
    val SCALE = 1000000000000L
    val ev = graft.Tables.events(s, dir).select(col("event_id"))
    val nodes = ev.select(col("event_id").as("n"))
    val edges = ev.filter(col("event_id") % 7 =!= 0)
      .select(col("event_id").as("src"), (col("event_id") - 1).as("dst"))
      .localCheckpoint() // reused by both iterations
    val nRows = ev.agg(count(lit(1)).as("nn"))
    var pr = nodes.crossJoin(broadcast(nRows))
      .select(col("n"), expr(s"${SCALE}L div nn").as("pr"),
              expr(s"(15 * (${SCALE}L div nn)) div 100").as("base"))
      .localCheckpoint()
    for (_ <- 1 to 2) {
      val contrib = edges.join(pr.withColumnRenamed("n", "src"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("pr")).as("c"))
      pr = pr.drop("pr")
        .join(contrib.withColumnRenamed("dst", "n"), Seq("n"), "left")
        .select(col("n"),
                (col("base") + expr("(85 * coalesce(c, 0L)) div 100")).as("pr"),
                col("base"))
        .localCheckpoint()
    }
    pr.select(col("n").as("event_id"), col("pr")).orderBy("event_id")
  }

  val g1Sql: String =
    """WITH nodes AS (SELECT event_id AS n FROM events),
      |cnt AS (SELECT count(*) AS nn FROM events),
      |edges AS (
      |  SELECT event_id AS src, event_id - 1 AS dst FROM events
      |  WHERE event_id % 7 <> 0
      |), seed AS (
      |  SELECT (1000000000000 // nn) AS s0,
      |         (15 * (1000000000000 // nn)) // 100 AS base FROM cnt
      |), pr0 AS (SELECT n, s0 AS pr FROM nodes CROSS JOIN seed),
      |c1 AS (SELECT dst, sum(pr) AS c FROM edges JOIN pr0 ON src = n GROUP BY 1),
      |pr1 AS (
      |  SELECT n, (base + (85 * coalesce(c, 0)) // 100)::BIGINT AS pr
      |  FROM nodes CROSS JOIN seed LEFT JOIN c1 ON c1.dst = n
      |), c2 AS (SELECT dst, sum(pr) AS c FROM edges JOIN pr1 ON src = n GROUP BY 1)
      |SELECT n AS event_id,
      |       (base + (85 * coalesce(c, 0)) // 100)::BIGINT AS pr
      |FROM nodes CROSS JOIN seed LEFT JOIN c2 ON c2.dst = n
      |ORDER BY event_id""".stripMargin

  /** Distinct undirected co-engagement edges (u < v): users sharing a
    * thread block. MATERIALIZED once per (session, sf-dir) — the same
    * staging-table discipline as `Dedup.d3Pairs` — and shared by g2
    * (degree count + three edge joins) and g3 (per-level frontier joins). */
  private def coengagementPairs(s: SparkSession, dir: String): DataFrame =
    QUtil.stage(s, ("coengagement", dir)) {
      val bu = Tables.events(s, dir)
        .select((col("event_id") - (col("event_id") % 7)).as("block"), col("user_id"))
        .distinct()
      bu.join(bu.select(col("block"), col("user_id").as("v")), Seq("block"))
        .filter(col("user_id") < col("v"))
        .select(col("user_id").as("u"), col("v"))
        .distinct()
        .localCheckpoint()
    }

  /** G2 triangle counting over the co-engagement graph — users are adjacent
    * when they both touch the same thread (block of 7, the st1 relation);
    * the output is each user's triangle participation count, the local
    * clustering signal the reference's social-graph analyses
    * (FriendRecommender.java similarity step) build on.
    *
    * Spark plan — the "forward" algorithm: orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one, enumerate wedges as
    * pairs of out-neighbors, and close each wedge against the oriented edge
    * set. Orientation bounds every out-degree by O(√E), so the wedge join is
    * O(E^1.5) instead of Σ deg² — the difference between feasible and not on
    * a 100 TB power-law graph where a celebrity vertex would otherwise
    * generate deg² ≈ 10¹² wedges. Three shuffle joins total, all
    * key-partitioned; each triangle is enumerated exactly once.
    *
    * The DuckDB oracle enumerates triangles the naive way (a<b<c three-way
    * join) — per-node counts are enumeration-order independent, so both
    * formulations agree exactly. */
  def g2_triangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = coengagementPairs(s, dir)
    val deg = pairs.select(col("u").as("n")).union(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient low → high by (degree, id); carry the dst's ord for wedge pairing
    val oriented = pairs
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint() // consumed three times below
    val wedges = oriented.select(col("src"), col("dst").as("a"), col("dd").as("da"))
      .join(oriented.select(col("src"), col("dst").as("b"), col("dd").as("db")), Seq("src"))
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
    val tris = wedges
      .join(oriented.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .select(col("src").as("x"), col("a"), col("b"))
    tris.select(explode(array(col("x"), col("a"), col("b"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_tri"))
      .orderBy("user_id")
  }

  val g2Sql: String =
    """WITH bu AS (
      |  SELECT DISTINCT event_id - (event_id % 7) AS block, user_id FROM events),
      |e AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM bu a JOIN bu b ON a.block = b.block AND a.user_id < b.user_id),
      |t AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT user_id, count(*) AS n_tri
      |FROM (SELECT a AS user_id FROM t UNION ALL
      |      SELECT b FROM t UNION ALL SELECT c FROM t)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** G3 BFS hop distances from user 0 over the co-engagement graph — the
    * "degrees of separation" measure completing the graph family
    * (reachability st1, components d8, PageRank g1, triangles g2).
    *
    * Spark plan: level-synchronous frontier expansion — per round, ONE
    * shuffle join frontier→edges, an anti-join against the visited set
    * (first-discovery = minimal hop count, so no per-node min needed), and
    * a lineage cut. Rounds = graph diameter: the BSP wavefront every
    * distributed BFS (Pregel et al.) uses, work O(diameter · |E|), never
    * all-paths. The oracle's recursive CTE instead enumerates bounded
    * (node, depth) pairs and takes the min — same result, declarative
    * spelling. */
  def g3_bfs_hops(s: SparkSession, dir: String): DataFrame = {
    val pairs = coengagementPairs(s, dir)
    val ed = pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint() // consumed once per BFS round
    var visited = s.range(1).select(lit(0L).as("node"), lit(0L).as("hops"))
      .localCheckpoint()
    var frontier = visited
    var level = 0L
    var more = true
    // maxHops bounds the oracle's recursive CTE (it must cap depth to
    // terminate on cycles); the Spark side FAILS LOUDLY if the cap would
    // truncate reachability rather than silently omitting far nodes
    val maxHops = 8L
    while (more && level < maxHops) {
      level += 1
      val next = frontier.join(ed, frontier("node") === ed("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hops", lit(level))
        .localCheckpoint()
      more = next.count() > 0
      if (more) visited = visited.unionAll(next).localCheckpoint()
      frontier = next
    }
    require(!more, s"BFS still expanding at the $maxHops-hop oracle bound — raise maxHops in both engines")
    visited.select(col("node").as("user_id"), col("hops")).orderBy("user_id")
  }

  val g3Sql: String =
    """WITH RECURSIVE bu AS (
      |  SELECT DISTINCT event_id - (event_id % 7) AS block, user_id FROM events),
      |e0 AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM bu a JOIN bu b ON a.block = b.block AND a.user_id < b.user_id),
      |ed AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |r(node, d) AS (
      |  SELECT 0::BIGINT, 0::BIGINT
      |  UNION
      |  SELECT ed.v, r.d + 1 FROM r JOIN ed ON ed.u = r.node WHERE r.d < 8)
      |SELECT node AS user_id, min(d) AS hops FROM r
      |GROUP BY node ORDER BY user_id""".stripMargin

  /** Round bound shared by the g4 Spark fixpoint and its unrolled oracle.
    * The H-operator is idempotent at the fixpoint, so the oracle's extra
    * unrolled rounds are no-ops; the Spark side FAILS LOUDLY if the bound
    * would truncate (measured rounds-to-fixpoint: 1 at sf0.001, 7 at
    * sf0.01, 21 at sf0.1 — the bound covers the driver's sf0.01 gate and
    * the local sf0.1 runs with headroom). */
  private val KCoreRounds = 32

  /** G4 k-core decomposition over the co-engagement graph — each user's
    * core number: the largest k such that the user survives in a subgraph
    * where everyone keeps ≥ k neighbors. The standard graph-degeneracy
    * measure (community cohesion, influence seeding, graph sparsification)
    * completing the family g1-g3 started.
    *
    * Spark plan — the H-index iteration (Lü/Zhou/Zhang/Stanley, PNAS 2016):
    * start every node at its degree and repeatedly replace each node's
    * value with the H-index of its neighbors' values (the largest h such
    * that ≥ h neighbors currently hold ≥ h); the sequence is monotone
    * non-increasing and converges EXACTLY to the core numbers. Unlike
    * naïve peeling — an anti-monotone per-k inner fixpoint whose level
    * count grows with graph density (the co-engagement graph's max core is
    * 277 at sf0.1, so k-by-k peeling is ~dense² work and no bounded SQL
    * unroll can express it) — each H round is ONE key-partitioned join of
    * the static edge table against the 1-row-per-node value table, a
    * per-node window rank, and a per-node aggregate: two shuffles per
    * round, rounds empirically ~log-scale in graph size. The only driver
    * action is the has-anything-changed count (inherent to any fixpoint,
    * the d8/resolveRoots discipline), and `localCheckpoint` cuts lineage
    * per round exactly like g3.
    *
    * Measured negative result (sf0.1 + a 10× slice): a FRONTIER-DRIVEN
    * variant — re-scoring only nodes adjacent to last round's changes,
    * valid because values are monotone non-increasing — ran ~9× SLOWER
    * here: on this dense co-engagement graph the frontier stays near-|V|
    * for most of the ~21 rounds, so the frontier-discovery joins + distinct
    * added two E-sized shuffles per round while pruning almost nothing
    * (and the post-checkpoint frontier has no stats, defeating broadcast).
    * Frontier pruning pays on long-tail sparse convergence, not here; the
    * plain Jacobi re-score is the scale plan of record.
    *
    * The DuckDB oracle unrolls [[KCoreRounds]] H rounds as a plain CTE
    * chain (the s4 Lloyd discipline) — extra rounds past convergence
    * re-derive the same values. */
  def g4_kcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = coengagementPairs(s, dir)
    val ed = pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("v")) // checkpoint preserves this hash partitioning, so
      .localCheckpoint()     // the ~21 per-round joins never re-shuffle the E side
    kcoreOf(ed).select(col("u").as("user_id"), col("c").as("core"))
      .orderBy("user_id")
  }

  /** The H-index fixpoint on an arbitrary symmetric edge relation (u, v) —
    * split from [[g4_kcore]] so specs can drive it with graphs of known
    * core numbers. Returns (u, c = exact core number). */
  private[graft] def kcoreOf(ed: DataFrame): DataFrame = {
    // H-index per node WITHOUT the per-node sort (optimization r16, guide
    // §2.3 "aggregate before you shuffle"): the r15 form shuffled the
    // E-sized (u, nc) join output into a row_number window (full sort per
    // round). Identity used instead: with cum(w) = #{neighbors with
    // nc ≥ w}, the H-index is max over DISTINCT neighbor values w of
    // min(w, cum(w)) — so a partial-aggregable groupBy(u, nc) count
    // collapses the E-sized rows map-side BEFORE the exchange, and the
    // window/sort runs over the collapsed (u, distinct-nc) relation
    // (≤ min(degree, value-range) rows per node, ≪ E on this dense graph).
    // Exact integer arithmetic; equal to the sorted form by the standard
    // h-index identity (pinned in GraphSpec against an in-memory fold).
    def hIndex(sub: DataFrame, values: DataFrame): DataFrame = sub
      .join(values.select(col("u").as("v"), col("c").as("nc")), Seq("v"))
      .groupBy(col("u"), col("nc")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("u")).orderBy(col("nc").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("u")
      .agg(coalesce(max(least(col("nc"), col("cum"))), lit(0L))
        .cast("long").as("c"))
    var c = ed.groupBy("u").agg(count(lit(1)).as("c")).localCheckpoint()
    // Values are monotone NON-INCREASING longs, so the global sum strictly
    // decreases iff any node changed — convergence detection is one |V|-row
    // partial-aggregated sum per round, not a |V|⋈|V| join + count.
    var tot = c.agg(org.apache.spark.sql.functions.sum("c")).first().getLong(0)
    var rounds = 0
    var changed = true
    while (changed && rounds < KCoreRounds) {
      val nxt = hIndex(ed, c).localCheckpoint()
      val nxtSum = nxt.agg(org.apache.spark.sql.functions.sum("c")).first().getLong(0)
      changed = nxtSum != tot
      tot = nxtSum
      rounds += 1
      c = nxt
    }
    require(!changed,
      s"H-index iteration still changing after $KCoreRounds rounds — raise KCoreRounds in both engines")
    c
  }

  val g4Sql: String = {
    // MATERIALIZED is load-bearing: DuckDB 1.0 inlines plain CTEs, and the
    // inlined 32-deep window/agg chain explodes the plan super-linearly
    // (36 s at 20 rounds, minutes at 32); materialized, the full chain
    // evaluates in 0.2 s at sf0.01
    def hRound(prev: String, next: String): String =
      s"""$next AS MATERIALIZED (
         |  SELECT u, coalesce(max(CASE WHEN nc >= rn THEN rn END), 0)::BIGINT AS c
         |  FROM (
         |    SELECT e.u, p.c AS nc,
         |      row_number() OVER (PARTITION BY e.u ORDER BY p.c DESC) AS rn
         |    FROM ed e JOIN $prev p ON p.u = e.v)
         |  GROUP BY u
         |)""".stripMargin
    val chain = (1 to KCoreRounds)
      .map(r => hRound(s"h${r - 1}", s"h$r")).mkString(",\n")
    s"""WITH bu AS (
       |  SELECT DISTINCT event_id - (event_id % 7) AS block, user_id FROM events),
       |e0 AS (
       |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
       |  FROM bu a JOIN bu b ON a.block = b.block AND a.user_id < b.user_id),
       |ed AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |h0 AS MATERIALIZED (SELECT u, count(*)::BIGINT AS c FROM ed GROUP BY u),
       |$chain
       |SELECT u AS user_id, c AS core FROM h$KCoreRounds ORDER BY user_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_pagerank"       -> (g1_pagerank _),
    "g2_triangles"      -> (g2_triangles _),
    "g3_bfs_hops"       -> (g3_bfs_hops _),
    "g4_kcore"          -> (g4_kcore _),
    "st1_resolve_roots" -> (st1_resolve_roots _),
    "j4_ts_violations"  -> (j4_ts_violations _),
    "s9_order_audit"    -> (s9_order_audit _),
    "s9_subtree_drop"   -> (s9_subtree_drop _),
    "s9_ts_repair"      -> (s9_ts_repair _))

  val oracles: Map[String, String] = Map(
    "g1_pagerank"       -> g1Sql,
    "g2_triangles"      -> g2Sql,
    "g3_bfs_hops"       -> g3Sql,
    "g4_kcore"          -> g4Sql,
    "st1_resolve_roots" -> st1Sql,
    "j4_ts_violations"  -> j4Sql,
    "s9_order_audit"    -> s9Sql,
    "s9_subtree_drop"   -> s9SubtreeSql,
    "s9_ts_repair"      -> s9RepairSql)
}
