package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import QUtil._

/** Relational operator coverage — projection/filter/map (SURVEY.md §2.2 P1-P3),
  * unions (J1), semi/anti joins (J2), self-join similarity (J3), multi-way
  * broadcast joins.
  *
  * Scale notes: dimension tables (region/nation/supplier, and customer below
  * ~100 MB) are broadcast — no shuffle on the fact side; the big
  * fact-side aggregations rely on partial aggregation (map-side combine)
  * which Catalyst inserts automatically. Filters/projections are pushed to
  * the parquet scan. All doubles that pass through arithmetic are rounded in
  * BOTH engines so the DuckDB hash-compare is stable.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: wide partial agg, tiny result.
    * Reference analog: per-epoch word count / windowed reduce finishers
    * (SURVEY §2.4 W10, §2.8 AggregateFunction rows). */
  /** Sums/averages accumulate exact decimals and floor-round: groupBy
    * partials merge in nondeterministic shuffle-arrival order, so raw double
    * sums are not run-stable (QUtil.round4 doc explains the floor form). */
  def q1_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(25,8)")).cast("double")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round2(dsum(col("l_quantity"))).as("sum_qty"),
        round2(dsum(col("l_extendedprice"))).as("sum_base_price"),
        round2(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        round4(dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        round4(dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  floor(sum(CAST(l_quantity AS DECIMAL(25,8)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_qty,
      |  floor(sum(CAST(l_extendedprice AS DECIMAL(25,8)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_base_price,
      |  floor(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_disc_price,
      |  floor(sum(CAST(l_quantity AS DECIMAL(25,8)))::VARCHAR::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
      |  floor(sum(CAST(l_discount AS DECIMAL(25,8)))::VARCHAR::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Projection + filter pushed to the parquet scan (P1/P2).
    * `PushedFilters` must show both predicates; ReadSchema only 3 columns. */
  def q2_filter_project(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value") >= 100.0)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")
  }

  val q2Sql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'purchase' AND value >= 100.0 ORDER BY event_id""".stripMargin

  /** 4-way star join: fact(orders) ⋈ customer ⋈ nation ⋈ region, revenue per
    * region/nation. nation+region are broadcast (tiny); customer is broadcast
    * below the auto threshold, shuffles above — correct either way at 100 TB
    * because the fact table never moves for the dim joins. */
  def q3_region_revenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round2(sum(col("o_totalprice").cast("decimal(25,8)")).cast("double")).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  val q3Sql: String =
    """SELECT r_name, n_name,
      |  floor(sum(CAST(o_totalprice AS DECIMAL(25,8)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Left-semi join (EXISTS) — reference J2 friendship-lookup analog:
    * customers having at least one high-value order. Broadcast the filtered
    * build side when small; semi-join never duplicates fact rows. */
  def q4_semi_join(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  val q4Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS) — reference J2 "exclude already-friends"
    * analog: customers with no order above 350k. */
  def q5_anti_join(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 350000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val q5Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Stream-union (J1): the reference merges 3 heterogeneous CSV streams
    * (posts/comments/likes) into one unified schema. Analog: three typed
    * event subsets with different projections unioned by name with missing
    * columns nulled, then aggregated per type. */
  def q6_union_streams(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("event_type"), col("value"))
    val unified = views
      .unionByName(clicks, allowMissingColumns = true)
      .unionByName(buys, allowMissingColumns = true)
    unified.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           count(col("user_id")).as("n_with_user"),
           round2(sum(coalesce(col("value"), lit(0.0)).cast("decimal(18,6)"))
             .cast("double")).as("sum_value"))
      .orderBy("event_type")
  }

  val q6Sql: String =
    """WITH unified AS (
      |  SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'view'
      |  UNION ALL BY NAME
      |  SELECT event_id, user_id, event_type, NULL::DOUBLE AS value FROM events WHERE event_type = 'click'
      |  UNION ALL BY NAME
      |  SELECT event_id, NULL::BIGINT AS user_id, event_type, value FROM events WHERE event_type = 'purchase'
      |)
      |SELECT event_type, count(*) AS n, count(user_id) AS n_with_user,
      |  floor(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,6)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_value
      |FROM unified GROUP BY 1 ORDER BY 1""".stripMargin

  /** Self-join co-engagement similarity — reference J3 static-similarity
    * (|objects(eigen) ∩ objects(u)| via equi-join + count). "Eigen" users
    * (user_id % 50 == 0, the reference restricts to 10 eigen users the same
    * way, FriendRecommender.java:123-155) are joined against all other users
    * on a shared item key parsed from the props JSON. The eigen restriction
    * is pushed below the join so the join's left side stays tiny. */
  def q7_coengagement(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
              regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("item"))
      .distinct()
    val eigen = ev.filter(col("user_id") % 50 === 0)
      .withColumnRenamed("user_id", "eigen_id")
    eigen.join(ev, Seq("item"))
      .filter(col("eigen_id") =!= col("user_id"))
      .groupBy(col("eigen_id"), col("user_id"))
      .agg(count(lit(1)).as("sim"))
      .orderBy("eigen_id", "user_id")
  }

  val q7Sql: String =
    """WITH ue AS (
      |  SELECT DISTINCT user_id, regexp_extract(props, '[0-9]+')::BIGINT AS item FROM events
      |)
      |SELECT a.user_id AS eigen_id, b.user_id AS user_id, count(*) AS sim
      |FROM ue a JOIN ue b ON a.item = b.item AND a.user_id <> b.user_id
      |WHERE a.user_id % 50 = 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Salting for skew: exact distinct users per event_type — a hot-key
    * aggregation (5 key values, millions of rows each at scale). Stage 1
    * salts each key by `pmod(user_id, 16)`: the salt is a FUNCTION OF THE
    * SUB-KEY, so per-salt user sets are disjoint and stage 2 can just SUM
    * the partial distinct counts. No reducer ever owns a whole hot key —
    * the skew-safe form of `groupBy(hot).agg(count_distinct(...))`. */
  def q8_salted_distinct(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("salt"))
      .agg(count_distinct(col("user_id")).as("part_uniq"))
      .groupBy(col("event_type"))
      .agg(sum(col("part_uniq")).as("uniq_users"))
      .orderBy("event_type")
  }

  val q8Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS uniq_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hierarchical aggregation: ROLLUP over (region, nation) — subtotal and
    * grand-total rows in one pass (Expand + single shuffle, no re-scan per
    * level). Null grouping columns are the standard rollup markers. */
  def q9_rollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round2(sum(col("o_totalprice").cast("decimal(25,8)")).cast("double")).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val q9Sql: String =
    """SELECT r_name, n_name,
      |  floor(sum(CAST(o_totalprice AS DECIMAL(25,8)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** Pivot: per-user event counts spread into one column per event type
    * (`groupBy.pivot` with explicit values so the plan is a single pass —
    * no second values-discovery job). */
  def q10_pivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  val q10Sql: String =
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click') AS "click",
      |  count(*) FILTER (WHERE event_type = 'view') AS "view",
      |  count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
      |  count(*) FILTER (WHERE event_type = 'signup') AS "signup",
      |  count(*) FILTER (WHERE event_type = 'error') AS "error"
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Set operations: users active in the first half of the timeline but
    * not the second (EXCEPT), and the overlap (INTERSECT). */
  def q11_set_ops(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
    // midpoint at whole-second granularity: sub-second boundary events would
    // otherwise split differently between Spark (µs) and DuckDB (ns).
    // Computed relationally — a 1-row aggregate broadcast-cross-joined onto
    // the scan — so the query stays a single lazy plan (no driver action).
    val mid = ev.agg(((min(col("sec")) + max(col("sec"))) / 2).cast("long").as("mid"))
    val split = ev.crossJoin(broadcast(mid))
    val first = split.filter(col("sec") < col("mid")).select(col("user_id"))
    val second = split.filter(col("sec") >= col("mid")).select(col("user_id"))
    val onlyFirst = first.except(second)
      .select(col("user_id"), lit("first_only").as("cohort"))
    val both = first.intersect(second)
      .select(col("user_id"), lit("both").as("cohort"))
    onlyFirst.unionByName(both).orderBy("cohort", "user_id")
  }

  val q11Sql: String =
    """WITH ev AS (
      |  SELECT user_id, floor(epoch(ts))::BIGINT AS sec FROM events
      |), mid AS (
      |  SELECT (min(sec) + max(sec)) // 2 AS m FROM ev
      |), f AS (SELECT DISTINCT user_id FROM ev, mid WHERE sec < m),
      |s AS (SELECT DISTINCT user_id FROM ev, mid WHERE sec >= m)
      |SELECT user_id, 'first_only' AS cohort FROM (SELECT user_id FROM f EXCEPT SELECT user_id FROM s)
      |UNION ALL
      |SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM f INTERSECT SELECT user_id FROM s)
      |ORDER BY cohort, user_id""".stripMargin

  /** Correlated EXISTS (TPC-H Q4 shape): order-priority counts over orders
    * having at least one high-quantity line item. Catalyst rewrites the
    * correlated subquery to a LEFT SEMI hash join on the correlation key —
    * one shuffle on orderkey, never a per-row subquery execution. */
  def q12_exists(s: SparkSession, dir: String): DataFrame = {
    val hot = Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45).select(col("l_orderkey"))
    Tables.orders(s, dir)
      .join(hot, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val q12Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o.o_orderkey AND l_quantity > 45)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Scalar correlated subquery (TPC-H Q17 shape): revenue of line items
    * whose quantity is below 20% of their part's average quantity. The
    * per-part average is a tiny grouped aggregate joined back — the
    * decorrelated two-scan plan Catalyst produces for the subquery form,
    * written directly. Exact-decimal mean and sum so both engines agree. */
  def q13_small_quantity_revenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQ = li.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
            / count(lit(1))).as("avg_qty"))
    li.join(avgQ, Seq("l_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((floor(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                  / 7.0 * 100.0 + 0.5) / 100.0).as("avg_yearly"),
           count(lit(1)).as("n_items"))
  }

  val q13Sql: String =
    """WITH a AS (
      |  SELECT l_partkey,
      |         sum(CAST(l_quantity AS DECIMAL(18,6)))::VARCHAR::DOUBLE / count(*) AS avg_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT floor(sum(CAST(l_extendedprice AS DECIMAL(18,6)))::VARCHAR::DOUBLE
      |             / 7.0 * 100.0 + 0.5) / 100.0 AS avg_yearly,
      |       count(*) AS n_items
      |FROM lineitem JOIN a USING (l_partkey)
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  /** CUBE over (status, priority): all 2^2 grouping combinations in one
    * pass. Like q9's ROLLUP this is a single Expand (4 copies of each row
    * tagged with its grouping-set id) followed by ONE shuffle on the
    * expanded keys — not four scans. At 100 TB the expand quadruples
    * map-side rows but partial aggregation collapses them before the
    * exchange, so the shuffle stays proportional to the distinct key count
    * (here ≤ 3·5·4 cells), not the input. */
  def q14_cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round2(sum(col("o_totalprice").cast("decimal(25,8)")).cast("double")).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val q14Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  floor(sum(CAST(o_totalprice AS DECIMAL(25,8)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** As-of join — an operator Spark has no built-in for (reference analog:
    * joining each activity event to the latest preceding state snapshot;
    * DuckDB spells it ASOF JOIN). For each purchase event, attach the most
    * recent order (by o_orderdate ≤ event time) of the same user.
    *
    * NOT implemented as a range join (which explodes to |events|·|orders per
    * user| before filtering) but by the union-merge trick: tag both sides,
    * union them on a shared schema, and run ONE window per user ordered by
    * (time, side-tag, orderkey) carrying `last(order cols, ignoreNulls)`
    * forward. Each event row picks up exactly the latest order at or before
    * its timestamp. Cost: one shuffle on user_id + one sort — the same plan
    * shape as a windowed aggregate, scale-safe at 100 TB (no cross-product,
    * no per-row subquery). Orders sort before ties via tag 0 < 1 so an order
    * at the exact event timestamp is visible (≤ semantics, like ASOF JOIN).
    * The window carries (epoch-µs, orderkey, price) through a single struct
    * so one `last()` keeps all order columns atomically consistent. */
  def q15_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("t"),
              lit(1).as("tag"), col("event_id"),
              lit(null).cast("long").as("o_orderkey"),
              lit(null).cast("double").as("o_totalprice"))
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey").as("k"),
              // parquet ms-timestamps load as TIMESTAMP_NTZ; the session is
              // pinned UTC so the cast is the identity wall-clock mapping
              unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
              lit(0).as("tag"), lit(null).cast("long").as("event_id"),
              col("o_orderkey"), col("o_totalprice"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("tag"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("_o", last(
        when(col("tag") === 0,
          struct(col("o_orderkey"), col("o_totalprice"))), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("k").as("user_id"),
              col("_o.o_orderkey").as("last_orderkey"),
              col("_o.o_totalprice").as("last_orderprice"))
      .orderBy("event_id")
  }

  /** Oracle spelled with the identical union-merge formulation (portable
    * ANSI window SQL; DuckDB's native ASOF JOIN would pick an arbitrary
    * order on o_orderdate ties — the explicit orderkey tiebreak here makes
    * the comparison deterministic). */
  val q15Sql: String =
    """WITH u AS (
      |  SELECT user_id AS k, epoch_ns(ts) // 1000 AS t, 1 AS tag, event_id,
      |         NULL::BIGINT AS o_orderkey, NULL::DOUBLE AS o_totalprice
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) AS t, 0 AS tag,
      |         NULL::BIGINT AS event_id, o_orderkey, o_totalprice
      |  FROM orders
      |), m AS (
      |  SELECT event_id, k,
      |    last_value(CASE WHEN tag = 0 THEN o_orderkey END IGNORE NULLS)
      |      OVER w AS last_orderkey,
      |    last_value(CASE WHEN tag = 0 THEN o_totalprice END IGNORE NULLS)
      |      OVER w AS last_orderprice,
      |    tag
      |  FROM u
      |  WINDOW w AS (PARTITION BY k ORDER BY t, tag, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, k AS user_id, last_orderkey, last_orderprice
      |FROM m WHERE tag = 1 ORDER BY event_id""".stripMargin

  /** Interval (range) join via bin bucketing — the scale-safe form of a
    * join with NO equi key. Each high-value purchase opens a 30-minute
    * window [ts, ts+30min); the query counts all activity (any user — no
    * shared key with the window) inside each window.
    *
    * Written naively (`ev.join(iv, t >= lo && t < hi)`) Spark has no equi
    * condition and plans a BroadcastNestedLoopJoin — O(|events|·|windows|)
    * comparisons, a 100 TB death sentence. The bucketing trick manufactures
    * the equi key: time is cut into bins of the window width, each interval
    * is replicated to the ≤2 bins it can overlap (`sequence(lo div W,
    * (hi−1) div W)`), each event maps to its single bin, and the join
    * becomes a hash/sort-merge EQUI-join on `bin` with the range predicate
    * as a residual filter. An event's one bin meets each interval's copy at
    * most once, so no dedup step is needed. `QueriesSmokeSpec` asserts the
    * plan contains no nested-loop/cartesian join. */
  def q16_interval_join(s: SparkSession, dir: String): DataFrame = {
    val W = 1800L * 1000000L // bin width = window width, µs
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      .withColumn("bin", expr(s"t div ${W}L"))
    val iv = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value") >= 200.0)
      .select(col("event_id").as("window_id"), unix_micros(col("ts")).as("lo"))
      .withColumn("hi", col("lo") + lit(W))
      .withColumn("bin", explode(expr(s"sequence(lo div ${W}L, (hi - 1) div ${W}L)")))
    ev.join(iv, Seq("bin"))
      .filter(col("t") >= col("lo") && col("t") < col("hi"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
           count_distinct(col("user_id")).as("n_users"))
      .orderBy("window_id")
  }

  /** Oracle spelled as the direct range join — DuckDB's IEJoin handles it;
    * the Spark side must NOT take this shape (see scaladoc). */
  val q16Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t FROM events
      |), iv AS (
      |  SELECT event_id AS window_id, epoch_ns(ts) // 1000 AS lo,
      |         epoch_ns(ts) // 1000 + 1800000000 AS hi
      |  FROM events WHERE event_type = 'purchase' AND value >= 200.0
      |)
      |SELECT window_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM iv JOIN ev ON ev.t >= iv.lo AND ev.t < iv.hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCD2 (slowly-changing-dimension type 2) construction: turn an event
    * log into validity-interval history — for each user, the runs of their
    * purchase `value`, collapsed across consecutive repeats, with
    * [valid_from, valid_to) bounds and an open (null) end for the current
    * row. The canonical warehouse dimension build.
    *
    * Two per-key windows, each riding the SAME partitioning (one shuffle on
    * user_id total): `lag` marks change points (drop rows equal to their
    * predecessor), `lead` over the survivors supplies each run's end bound.
    * No self-join, no driver state; at 100 TB this is exactly the windowed
    * aggregate plan shape. */
  def q17_scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
              unix_micros(col("ts")).as("t"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val changes = ev
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("value"))
    changes
      .withColumn("t_end", lead(col("t"), 1).over(w))
      .select(col("user_id"), col("value"),
              expr("t div 1000000").as("valid_from_s"),
              expr("t_end div 1000000").as("valid_to_s"))
      .orderBy("user_id", "valid_from_s")
  }

  val q17Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS t
      |  FROM events WHERE event_type = 'purchase'
      |), marked AS (
      |  SELECT user_id, event_id, value, t,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
      |  FROM ev
      |), changes AS (
      |  SELECT user_id, event_id, value, t FROM marked
      |  WHERE prev IS NULL OR prev <> value
      |)
      |SELECT user_id, value, t // 1000000 AS valid_from_s,
      |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) // 1000000
      |    AS valid_to_s
      |FROM changes ORDER BY user_id, valid_from_s""".stripMargin

  /** Gap-filling resample + forward fill: regularize each user's sparse
    * purchase history onto a dense daily grid, carrying the last observed
    * value forward — the time-series regularization every feature pipeline
    * runs before training (a.k.a. resample + LOCF).
    *
    * Three moves, all shuffle-on-user_id and codegen-friendly:
    * 1. per-user day span (one aggregate), 2. the dense grid via
    * `sequence`+`explode` — generated, never read, so the grid costs rows
    * proportional to the OUTPUT, 3. per-day last observation (row_number
    * desc) left-joined onto the grid and forward-filled with
    * `last(value, ignoreNulls)` over the user's day order. No driver
    * loops; the grid explode is the only row amplification and it is the
    * deliverable itself. */
  def q18_resample_ffill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val DAY = 86400L
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
              unix_micros(col("ts")).as("t"))
      .withColumn("day", expr(s"(t div ${DAY * 1000000L}L)"))
    val span = p.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val lastPerDay = p
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("t").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val ffillW = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPerDay, Seq("user_id", "day"), "left")
      .withColumn("ffill_value", last(col("value"), ignoreNulls = true).over(ffillW))
      .withColumn("observed", col("value").isNotNull)
      .select(col("user_id"), (col("day") * DAY).as("day_s"),
              col("ffill_value"), col("observed"))
      .orderBy("user_id", "day_s")
  }

  val q18Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS t,
      |         epoch_ns(ts) // 1000 // 86400000000 AS day
      |  FROM events WHERE event_type = 'purchase'
      |), span AS (
      |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM p GROUP BY 1
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span
      |), lastday AS (
      |  SELECT user_id, day, value FROM (
      |    SELECT user_id, day, value,
      |      row_number() OVER (PARTITION BY user_id, day
      |                         ORDER BY t DESC, event_id DESC) AS rn
      |    FROM p) WHERE rn = 1
      |)
      |SELECT g.user_id, g.day * 86400 AS day_s,
      |  last_value(l.value IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value,
      |  l.value IS NOT NULL AS observed
      |FROM grid g LEFT JOIN lastday l ON l.user_id = g.user_id AND l.day = g.day
      |ORDER BY g.user_id, day_s""".stripMargin

  /** Incremental aggregate maintenance: a materialized per-(user, type)
    * aggregate is MERGED with a delta batch's partial aggregate instead of
    * recomputed — the pattern that keeps a 100 TB rollup fresh for the cost
    * of the day's delta. The timeline splits at its midpoint (computed
    * relationally, as in q11): the first half plays the stored aggregate,
    * the second half the arriving delta; a full outer join + coalesced
    * merge (counts add, decimal sums add, maxes max) produces the
    * maintained table.
    *
    * The ORACLE is the full recompute over all events — so the hash match
    * PROVES the maintenance algebra (merge of partials ≡ recompute), which
    * holds exactly because every merged measure is associative and the
    * sums accumulate in exact decimal. */
  def q19_incremental_agg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
              unix_timestamp(col("ts")).as("sec"))
    val mid = ev.agg(((min(col("sec")) + max(col("sec"))) / 2).cast("long").as("mid"))
    val split = ev.crossJoin(broadcast(mid))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast("decimal(18,6)")).as("sv"),
             max(col("value")).as("mx"))
    val base  = partial(split.filter(col("sec") < col("mid")))
    val delta = partial(split.filter(col("sec") >= col("mid")))
    base.as("b").join(delta.as("d"), Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        round2((coalesce(col("b.sv"), lit(0).cast("decimal(18,6)"))
               + coalesce(col("d.sv"), lit(0).cast("decimal(18,6)")))
          .cast("double")).as("sum_value"),
        greatest(coalesce(col("b.mx"), lit(Double.MinValue)),
                 coalesce(col("d.mx"), lit(Double.MinValue))).as("max_value"))
      .orderBy("user_id", "event_type")
  }

  /** Full recompute — hash equality proves the incremental merge. */
  val q19Sql: String =
    """SELECT user_id, event_type, count(*) AS n,
      |  floor(sum(CAST(value AS DECIMAL(18,6)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0
      |    AS sum_value,
      |  max(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Retention cohort analysis: users grouped by first-activity day
    * (cohort), activity counted per day-offset from that cohort day — the
    * triangle every growth dashboard draws. Two aggregations riding one
    * user_id shuffle (first-seen day is a per-user min; the join back is
    * co-partitioned), then a tiny (cohort × offset) rollup. No windows, no
    * self-join — at 100 TB this is two map-side-combined passes. */
  def q20_retention_cohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("active_users"),
           count(lit(1)).as("n_events"))
      .select((col("cohort_day") * 86400).as("cohort_day_s"), col("day_offset"),
              col("active_users"), col("n_events"))
      .orderBy("cohort_day_s", "day_offset")
  }

  val q20Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day FROM events
      |), fd AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1
      |)
      |SELECT cohort_day * 86400 AS cohort_day_s, day - cohort_day AS day_offset,
      |  count(DISTINCT ev.user_id) AS active_users, count(*) AS n_events
      |FROM ev JOIN fd USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Funnel analysis: view → click → purchase, each step within 24 hours
    * of the one before. The naive shape is two range self-joins; this runs
    * as ONE shuffle on user_id with cascaded carry-forward windows over the
    * same sort order (Catalyst fuses them into a single Window chain, no
    * second exchange): carry the last view time, a click within the horizon of
    * it is step-2; carry the last step-2 click time, a purchase within
    * the horizon of that is step-3. EXISTS semantics (a step counts once however
    * many predecessors qualify); ties at the same microsecond order
    * view < click < purchase. Output: per-user funnel step counts for users
    * who completed at least one full funnel. */
  def q21_funnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 86400000000L // step horizon: 24 h in µs
    val tag = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1).otherwise(2)
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
              tag.as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s2 = ev
      .withColumn("last_view", max(when(col("tag") === 0, col("t"))).over(w))
      .withColumn("is_step2",
        col("tag") === 1 && coalesce(col("last_view") >= col("t") - L, lit(false)))
    val s3 = s2
      .withColumn("last_s2", max(when(col("is_step2"), col("t"))).over(w))
      .withColumn("is_step3",
        col("tag") === 2 && coalesce(col("last_s2") >= col("t") - L, lit(false)))
    s3.groupBy(col("user_id"))
      .agg(sum(when(col("tag") === 0, 1L).otherwise(0L)).as("n_views"),
           sum(when(col("is_step2"), 1L).otherwise(0L)).as("n_step2"),
           sum(when(col("is_step3"), 1L).otherwise(0L)).as("n_step3"))
      .filter(col("n_step3") >= 1)
      .orderBy("user_id")
  }

  val q21Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
      |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS tag
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |), s2 AS (
      |  SELECT *,
      |    (tag = 1 AND coalesce(max(CASE WHEN tag = 0 THEN t END)
      |       OVER w >= t - 86400000000, false)) AS is_step2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, tag, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), s3 AS (
      |  SELECT *,
      |    (tag = 2 AND coalesce(max(CASE WHEN is_step2 THEN t END)
      |       OVER w >= t - 86400000000, false)) AS is_step3
      |  FROM s2
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, tag, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id,
      |  sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END)::BIGINT AS n_views,
      |  sum(CASE WHEN is_step2 THEN 1 ELSE 0 END)::BIGINT AS n_step2,
      |  sum(CASE WHEN is_step3 THEN 1 ELSE 0 END)::BIGINT AS n_step3
      |FROM s3 GROUP BY 1 HAVING sum(CASE WHEN is_step3 THEN 1 ELSE 0 END) >= 1
      |ORDER BY user_id""".stripMargin

  /** Event-transition (Markov) matrix: counts of consecutive
    * (previous type → current type) steps per user journey — the path
    * matrix behind "what do users do after X" analyses and simple
    * next-event models. One `lag` window per user (single shuffle) and a
    * tiny (from × to) rollup with map-side combine; the per-row
    * transition probability is a decimal-exact share of the from-state's
    * outgoing mass, floor-rounded identically in both engines. */
  def q22_transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val steps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("t"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = steps.groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
           count_distinct(col("user_id")).as("n_users"))
    val outMass = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("out_n"))
    counts.join(outMass, Seq("from_type"))
      .withColumn("p", round4(col("n").cast("double") / col("out_n")))
      .select(col("from_type"), col("to_type"), col("n"), col("n_users"), col("p"))
      .orderBy("from_type", "to_type")
  }

  val q22Sql: String =
    """WITH steps AS (
      |  SELECT user_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000, event_id) AS from_type,
      |    event_type AS to_type
      |  FROM events
      |), c AS (
      |  SELECT from_type, to_type, count(*) AS n,
      |         count(DISTINCT user_id) AS n_users
      |  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2
      |), m AS (SELECT from_type, sum(n) AS out_n FROM c GROUP BY 1)
      |SELECT from_type, to_type, n, n_users,
      |  floor(n::DOUBLE / out_n * 10000.0 + 0.5) / 10000.0 AS p
      |FROM c JOIN m USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** Global top-k WITHOUT a global sort: `orderBy(...).limit(k)` lowers to
    * `TakeOrderedAndProject` — each partition keeps its local top-k heap
    * and only k·partitions candidate rows ever reach the driver-side
    * merge, never a range-partitioned full sort of the table. At 100 TB
    * "give me the 100 largest" is the difference between a heap scan and
    * a terabyte shuffle. Tie-broken on event_id so the result set is
    * deterministic. Plan shape asserted in `QueriesSmokeSpec`. */
  def q23_global_topk(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(100)

  val q23Sql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |ORDER BY value DESC, event_id LIMIT 100""".stripMargin

  /** Q24 CDC MERGE/upsert apply — the batch half of every
    * change-data-capture pipeline: fold a keyed changes feed into a base
    * table with MERGE semantics (matched ⇒ update, unmatched source ⇒
    * insert, unmatched target ⇒ keep). The changes feed derives from
    * `events`: each user's event count becomes its new balance (an update —
    * every user_id is a live custkey), and even user_ids additionally create
    * a NEW customer at key user_id + 100000 (disjoint from the base key
    * space, so the insert branch is genuinely exercised).
    *
    * Spark plan: one full-outer sort-merge join on the primary key — both
    * sides shuffle-partitioned by the key, which is exactly how a
    * lakehouse MERGE executes at 100 TB (key-partitioned rewrite; with a
    * bucketed/partitioned base table the base side's shuffle disappears).
    * No row is driver-collected; the three MERGE branches are one
    * coalesce/case projection over the joined row. */
  def q24_merge_upsert(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    val changes = agg.select(col("user_id").as("key"), col("n"))
      .unionAll(agg.filter(col("user_id") % 2 === 0)
        .select((col("user_id") + 100000L).as("key"), col("n")))
    Tables.customer(s, dir)
      .join(changes, col("c_custkey") === col("key"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("key")).as("c_custkey"),
        coalesce(col("c_name"),
          concat(lit("Customer#new-"), col("key").cast("string"))).as("c_name"),
        when(col("key").isNotNull, col("n").cast("double"))
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val q24Sql: String =
    """WITH agg AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |ch AS (
      |  SELECT user_id AS key, n FROM agg
      |  UNION ALL
      |  SELECT user_id + 100000, n FROM agg WHERE user_id % 2 = 0)
      |SELECT coalesce(c_custkey, key) AS c_custkey,
      |       coalesce(c_name, 'Customer#new-' || key::VARCHAR) AS c_name,
      |       CASE WHEN key IS NOT NULL THEN n::DOUBLE ELSE c_acctbal END AS c_acctbal
      |FROM customer FULL OUTER JOIN ch ON c_custkey = key
      |ORDER BY c_custkey""".stripMargin

  /** Q25 Z-order layout key — Morton interleave of the two dimension keys
    * a 2-D box query filters on (user and time bucket). Sorting/range-
    * partitioning a table by this key is the storage-layout move that makes
    * multi-dimensional min/max pruning work at 100 TB: a linear sort serves
    * only its leading column, the Z-curve bounds the files ANY box query
    * touches. `ZOrderLayoutSpec` measures the effect on real parquet files
    * (box filter: ≤4 of 16 files under Z-order vs ~16 under linear sort).
    *
    * The key is computed by the native codegen'd `interleave_bits`
    * expression ([[graft.functions.InterleaveBits]]); the oracle spells the
    * same 5-step magic-mask spread in SQL. Both inputs are < 2³¹, so the
    * code is non-negative and signed-BIGINT engines order it identically. */
  def q25_zorder(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        (col("event_id") % 1024).as("tbucket"))
      .withColumn("z", graft.functions.interleave_bits(col("user_id"), col("tbucket")))
      .select(col("event_id"), col("z"))
      .orderBy("z", "event_id")
  }

  val q25Sql: String =
    """WITH src AS (
      |  SELECT event_id, user_id & 4294967295 AS x,
      |         (event_id % 1024) & 4294967295 AS y FROM events),
      |s1 AS (SELECT event_id, (x | (x<<16)) & 281470681808895 AS x,
      |               (y | (y<<16)) & 281470681808895 AS y FROM src),
      |s2 AS (SELECT event_id, (x | (x<<8)) & 71777214294589695 AS x,
      |               (y | (y<<8)) & 71777214294589695 AS y FROM s1),
      |s3 AS (SELECT event_id, (x | (x<<4)) & 1085102592571150095 AS x,
      |               (y | (y<<4)) & 1085102592571150095 AS y FROM s2),
      |s4 AS (SELECT event_id, (x | (x<<2)) & 3689348814741910323 AS x,
      |               (y | (y<<2)) & 3689348814741910323 AS y FROM s3),
      |s5 AS (SELECT event_id, (x | (x<<1)) & 6148914691236517205 AS x,
      |               (y | (y<<1)) & 6148914691236517205 AS y FROM s4)
      |SELECT event_id, (x | (y<<1))::BIGINT AS z FROM s5
      |ORDER BY z, event_id""".stripMargin

  /** Q26 semi-structured extraction — schema-on-read over the JSON `props`
    * column: `from_json` with an EXPLICIT struct schema (never
    * schema inference, which would need a full extra pass at 100 TB) parses
    * inside whole-stage codegen, the typed field feeds a plain grouped
    * aggregation, and only (event_type, props) is read from the scan. The
    * everyday shape of event-pipeline payload columns: typed extraction at
    * the scan, relational algebra above it. */
  def q26_json_extract(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), // BIGINT: the oracle casts to BIGINT too —
          // an int32 schema would null out-of-range values and diverge
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"),
           countDistinct(col("k")).as("ndv_k"))
      .orderBy("event_type")
  }

  val q26Sql: String =
    """SELECT event_type, count(*) AS n,
      |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
      |  min(json_extract(props, '$.k')::BIGINT) AS min_k,
      |  max(json_extract(props, '$.k')::BIGINT) AS max_k,
      |  count(DISTINCT json_extract(props, '$.k')::BIGINT) AS ndv_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q27 unpivot/melt — the inverse of q10: the wide per-user counts matrix
    * back to long (user, event_type, n) form via `stack` (Spark's
    * generator-based UNPIVOT: a narrow row-expansion inside the projection,
    * no shuffle beyond q10's own aggregation). Wide↔long reshaping is the
    * everyday feature-table plumbing step; zero-count cells are kept —
    * melt is lossless, the round-trip property a reshape must have. */
  def q27_unpivot(s: SparkSession, dir: String): DataFrame =
    q10_pivot(s, dir).select(col("user_id"),
        expr("stack(5, 'click', `click`, 'view', `view`, 'purchase', `purchase`, " +
             "'signup', `signup`, 'error', `error`) AS (event_type, n)"))
      .orderBy("user_id", "event_type")

  val q27Sql: String =
    """WITH w AS (
      |  SELECT user_id,
      |    count(*) FILTER (WHERE event_type = 'click') AS c_click,
      |    count(*) FILTER (WHERE event_type = 'view') AS c_view,
      |    count(*) FILTER (WHERE event_type = 'purchase') AS c_purchase,
      |    count(*) FILTER (WHERE event_type = 'signup') AS c_signup,
      |    count(*) FILTER (WHERE event_type = 'error') AS c_error
      |  FROM events GROUP BY 1)
      |SELECT user_id, event_type, n FROM (
      |  SELECT user_id, 'click' AS event_type, c_click AS n FROM w
      |  UNION ALL SELECT user_id, 'view', c_view FROM w
      |  UNION ALL SELECT user_id, 'purchase', c_purchase FROM w
      |  UNION ALL SELECT user_id, 'signup', c_signup FROM w
      |  UNION ALL SELECT user_id, 'error', c_error FROM w)
      |ORDER BY user_id, event_type""".stripMargin

  /** Q28 typed cogroup reconciliation — `KeyValueGroupedDataset.cogroup`,
    * the one relational-algebra-adjacent operator the q-family hadn't
    * exercised: both sides grouped on the same key and merged by arbitrary
    * per-key logic in a single reduce round (the classic two-source
    * reconciliation job: purchase EVENTS vs high-value ORDERS per
    * customer, with `both` / `events_only` / `orders_only` verdicts — all
    * three branches populated at the driver's gate SF).
    *
    * Scale contract: each side is pre-reduced to ONE row per key BEFORE
    * the cogroup (exact-decimal partial-agg sums, map-side combined), so
    * the per-key iterators the merge function sees are O(1) — cogroup's
    * per-key-in-memory semantics stay safe at any corpus size, and the
    * whole operator is two aggregation shuffles + one co-partitioned
    * merge. Oracle: the equivalent FULL OUTER JOIN with CASE status. */
  def q28_cogroup_reconcile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purch"),
           round2(sum(col("value").cast("decimal(18,6)")).cast("double"))
             .as("purch_value"))
      .as[(Long, Long, Double)]
    val od = Tables.orders(s, dir).filter(col("o_totalprice") > 350000.0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           round2(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double"))
             .as("order_value"))
      .as[(Long, Long, Double)]
    ev.groupByKey(_._1).cogroup(od.groupByKey(_._1)) { (k, eIt, oIt) =>
      val e = eIt.buffered.headOption
      val o = oIt.buffered.headOption
      val status = (e, o) match {
        case (Some(_), Some(_)) => "both"
        case (Some(_), None)    => "events_only"
        case _                  => "orders_only"
      }
      Iterator((k, e.map(_._2).getOrElse(0L), e.map(_._3).getOrElse(0.0),
                o.map(_._2).getOrElse(0L), o.map(_._3).getOrElse(0.0), status))
    }.toDF("user_id", "n_purch", "purch_value", "n_orders", "order_value", "status")
      .orderBy("user_id")
  }

  val q28Sql: String =
    """WITH e AS (
      |  SELECT user_id, count(*) AS n_purch,
      |    floor(sum(CAST(value AS DECIMAL(18,6)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS purch_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), o AS (
      |  SELECT o_custkey AS user_id, count(*) AS n_orders,
      |    floor(sum(CAST(o_totalprice AS DECIMAL(18,6)))::VARCHAR::DOUBLE * 100.0 + 0.5) / 100.0 AS order_value
      |  FROM orders WHERE o_totalprice > 350000.0 GROUP BY 1
      |)
      |SELECT coalesce(e.user_id, o.user_id) AS user_id,
      |  coalesce(e.n_purch, 0)::BIGINT AS n_purch,
      |  coalesce(e.purch_value, 0.0) AS purch_value,
      |  coalesce(o.n_orders, 0)::BIGINT AS n_orders,
      |  coalesce(o.order_value, 0.0) AS order_value,
      |  CASE WHEN e.user_id IS NOT NULL AND o.user_id IS NOT NULL THEN 'both'
      |       WHEN e.user_id IS NOT NULL THEN 'events_only'
      |       ELSE 'orders_only' END AS status
      |FROM e FULL JOIN o ON e.user_id = o.user_id
      |ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_cogroup_reconcile" -> (q28_cogroup_reconcile _),
    "q27_unpivot"        -> (q27_unpivot _),
    "q26_json_extract"   -> (q26_json_extract _),
    "q25_zorder"         -> (q25_zorder _),
    "q24_merge_upsert"   -> (q24_merge_upsert _),
    "q23_global_topk"    -> (q23_global_topk _),
    "q22_transitions"    -> (q22_transitions _),
    "q21_funnel"         -> (q21_funnel _),
    "q20_retention_cohorts" -> (q20_retention_cohorts _),
    "q19_incremental_agg" -> (q19_incremental_agg _),
    "q18_resample_ffill" -> (q18_resample_ffill _),
    "q17_scd2"           -> (q17_scd2 _),
    "q16_interval_join"  -> (q16_interval_join _),
    "q14_cube"           -> (q14_cube _),
    "q15_asof_join"      -> (q15_asof_join _),
    "q12_exists"         -> (q12_exists _),
    "q13_small_quantity_revenue" -> (q13_small_quantity_revenue _),
    "q8_salted_distinct" -> (q8_salted_distinct _),
    "q9_rollup"          -> (q9_rollup _),
    "q10_pivot"          -> (q10_pivot _),
    "q11_set_ops"        -> (q11_set_ops _),
    "q1_pricing_summary" -> (q1_pricing_summary _),
    "q2_filter_project"  -> (q2_filter_project _),
    "q3_region_revenue"  -> (q3_region_revenue _),
    "q4_semi_join"       -> (q4_semi_join _),
    "q5_anti_join"       -> (q5_anti_join _),
    "q6_union_streams"   -> (q6_union_streams _),
    "q7_coengagement"    -> (q7_coengagement _))

  val oracles: Map[String, String] = Map(
    "q28_cogroup_reconcile" -> q28Sql,
    "q27_unpivot"        -> q27Sql,
    "q26_json_extract"   -> q26Sql,
    "q25_zorder"         -> q25Sql,
    "q24_merge_upsert"   -> q24Sql,
    "q23_global_topk"    -> q23Sql,
    "q22_transitions"    -> q22Sql,
    "q21_funnel"         -> q21Sql,
    "q20_retention_cohorts" -> q20Sql,
    "q19_incremental_agg" -> q19Sql,
    "q18_resample_ffill" -> q18Sql,
    "q17_scd2"           -> q17Sql,
    "q16_interval_join"  -> q16Sql,
    "q14_cube"           -> q14Sql,
    "q15_asof_join"      -> q15Sql,
    "q12_exists"         -> q12Sql,
    "q13_small_quantity_revenue" -> q13Sql,
    "q8_salted_distinct" -> q8Sql,
    "q9_rollup"          -> q9Sql,
    "q10_pivot"          -> q10Sql,
    "q11_set_ops"        -> q11Sql,
    "q1_pricing_summary" -> q1Sql,
    "q2_filter_project"  -> q2Sql,
    "q3_region_revenue"  -> q3Sql,
    "q4_semi_join"       -> q4Sql,
    "q5_anti_join"       -> q5Sql,
    "q6_union_streams"   -> q6Sql,
    "q7_coengagement"    -> q7Sql)
}
