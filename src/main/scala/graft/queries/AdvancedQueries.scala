package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Relational operators beyond the TPC-H-shaped headliners: as-of join
 * (the classic CDC/event-stream temporal join), semi-structured JSON
 * extraction, ROLLUP, and EXISTS — all Spark built-ins (SURVEY §2.6 note:
 * relational capability is the host engine's job), each oracle-checked.
 */
object AdvancedQueries {

  /** One (type, hour) input row of the EWMA recurrence. */
  case class HourCnt(event_type: String, hour: java.sql.Timestamp, cnt: Long)
  /** HourCnt + the per-type moments the CUSUM recurrence consumes. */
  case class HourCntStats(event_type: String, hour: java.sql.Timestamp,
      cnt: Long, n_hours: Long, s: Long)
  /** One CUSUM output row (statistic scaled by n_hours — exact integers). */
  case class CusumRow(event_type: String, hour: java.sql.Timestamp,
      cnt: Long, cusum_scaled: Long, is_alarm: Boolean)
  /** One smoothed output row (ewma in fixed-point millis). */
  case class EwmaRow(event_type: String, hour: java.sql.Timestamp,
      cnt: Long, ewma_milli: Long)

  private case class TradeGraph(edgeDeg: DataFrame, nodes: DataFrame)

  /** The windowed-funnel oracle, shared between the batch query
    * (`q_window_funnel`) and its streaming state-machine twin
    * (`q_stream_window_funnel`) — one definition so both engines' funnel
    * claims are about the same quantity. Window W = 86400 s. */
  private[queries] val WindowFunnelOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tse
      |  FROM events),
      |w1 AS (
      |  SELECT user_id, event_type, event_id, tse,
      |    MAX(CASE WHEN event_type = 'view' THEN tse END) OVER
      |      (PARTITION BY user_id ORDER BY tse, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS last_view
      |  FROM e),
      |w2 AS (
      |  SELECT user_id, event_type, tse, last_view,
      |    MAX(CASE WHEN event_type = 'click' THEN last_view END)
      |      OVER (PARTITION BY user_id ORDER BY tse, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS best_anchor
      |  FROM w1),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS s1,
      |    MAX(CASE WHEN event_type = 'click'
      |      AND last_view >= tse - 86400 THEN 1 ELSE 0 END) AS s2,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND best_anchor >= tse - 86400 THEN 1 ELSE 0 END) AS s3
      |  FROM w2 GROUP BY user_id)
      |SELECT CAST(CASE WHEN s3 = 1 THEN 3 WHEN s2 = 1 THEN 2
      |    WHEN s1 = 1 THEN 1 ELSE 0 END AS BIGINT) AS stage,
      |  COUNT(*) AS n_users
      |FROM u GROUP BY stage ORDER BY stage""".stripMargin


  /** One Holt double-exponential-smoothing row (fixed-point millis). */
  case class HoltRow(event_type: String, hour: java.sql.Timestamp,
      cnt: Long, level_milli: Long, trend_milli: Long,
      forecast_milli: Long)

  /** The deduped (customer, supplier) pair table — node ids disambiguated
    * by parity (c·2 / p·2+1). A pure function of the input dir, consumed
    * by THREE graph queries (PageRank, BFS, degree histogram), so it is a
    * write-once artifact: the orders ⋈ lineitem + distinct (the only
    * corpus-sized shuffle in any of them) runs once and every graph
    * analytic reads the edge snapshot back. This is also the production
    * shape — a graph table is materialized once per corpus snapshot, not
    * rebuilt per algorithm.
    * Downstream consumers are order-insensitive (integer sums, mins,
    * counts), so the artifact's parquet row order cannot reach a result.
    * Bump the version when the pair derivation changes shape. */
  private[queries] def tradePairs(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Artifacts.once("trade_graph", version = 1, dir) { stage =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      graft.QueryUtil.writeArtifact(
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("p"))
          .distinct(),
        "c", s"$stage/pairs")
    }
    s.read.parquet(s"$out/pairs")
  }

  /** The customer↔supplier trade graph both graph queries walk, built in
    * ONE folded pass: the deduped pair table is the only big shuffle;
    * per-side degrees are tiny aggregates broadcast back onto it; both
    * edge directions ride a single union carrying their out-degree
    * (bipartite: a c→p edge's outdeg is c's partner count). `edgeDeg` is
    * persisted hash-partitioned on src so every iterative round — PageRank
    * messages or BFS frontier — reuses the layout with no new exchange;
    * `nodes` falls out of the degree aggregates (disjoint by parity), no
    * extra distinct over the doubled edge list.
    *
    * Cache lifetime: the caches CANNOT be released inside the query — the
    * returned plan is lazy and (pagerank's uncut final round, BFS's
    * unreachable anti-join) still references edgeDeg/nodes at execution;
    * an in-query unpersist would silently force a full graph rebuild.
    * Release is the harness's per-query `spark.catalog.clearCache()`
    * (Verify/Bench both do this between queries). */
  private def tradeGraph(s: SparkSession, dir: String,
      withDegrees: Boolean = true): TradeGraph = {
    val pairs = tradePairs(s, dir).cache()
    if (withDegrees) {
      // ADJACENCY layout: one row per source node with its neighbor
      // array — built by ONE groupBy per direction straight from the
      // pairs (the former edge layout needed two degree aggregates, two
      // broadcast joins and a |E|-row repartition on top of them).
      // outdeg falls out as size(dsts). See PageRank.runAdjacency for
      // the skew trade (segment super-node rows at scale).
      val adj = pairs
        .groupBy(col("c").as("src")).agg(collect_list(col("p")).as("dsts"))
        .union(pairs
          .groupBy(col("p").as("src")).agg(collect_list(col("c")).as("dsts")))
        .withColumn("outdeg", size(col("dsts")).cast(LongType))
        .repartition(col("src")).cache()
      // bipartite with both directions: every node occurs as a src
      val nodes = adj.select(col("src").as("node")).cache()
      TradeGraph(adj, nodes)
    } else {
      // degree-free shape for min-plus walks (BFS): no degree pass at all
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .union(pairs.select(col("p").as("src"), col("c").as("dst")))
        .repartition(col("src")).cache()
      val nodes = pairs.select(col("c")).distinct()
        .select(col("c").as("node"))
        .union(pairs.select(col("p")).distinct()
          .select(col("p").as("node"))).cache()
      TradeGraph(edges, nodes)
    }
  }

  /** One h-index refinement round for the coreness iteration, as a
    * HISTOGRAM SELECTION (PlanSpec pins the no-per-neighbor-window
    * contract on this helper): neighbor values collapse to a
    * (node, value) → count histogram under a map-side-combined groupBy
    * BEFORE any per-node work, then h = max over distinct values v of
    * min(v, F(v)) with F the histogram's descending cumsum. The only
    * window runs over histogram rows (≤ #distinct neighbor values per
    * node, bounded by the max core number) — a power-law hub never
    * lands its raw neighbor list in one task. */
  private[graft] def hIndexRound(edges: DataFrame,
      core: DataFrame): DataFrame = {
    val hist = edges
      .join(core.select(col("node").as("dst"), col("c").as("cu")), "dst")
      .groupBy(col("src"), col("cu"))
      .agg(count(lit(1)).as("cnt"))
    // cu is distinct within src after the groupBy, so the default RANGE
    // frame has no tie ambiguity; f = F(cu) = #neighbor values >= cu
    val w = Window.partitionBy(col("src")).orderBy(col("cu").desc)
    hist.withColumn("f", sum(col("cnt")).over(w))
      .groupBy(col("src").as("node"))
      .agg(coalesce(max(least(col("cu"), col("f"))), lit(0L)).as("c"))
  }

  def defs: Map[String, QueryDef] = Map(

    // As-of join: each purchase matched to the user's most recent
    // prior-or-simultaneous click. Implemented the scalable way — tag,
    // union, one window pass (last non-null carry-forward) — which is one
    // shuffle on user_id and no range-join pair explosion; the oracle uses
    // DuckDB's native ASOF JOIN. Clicks are deduped to one per (user, ts)
    // so ties are deterministic in both engines.
    "q_asof_join" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val clicks = e.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("cid"))
          .select(col("user_id"), col("ts"), col("cid"),
            lit(0).as("kind"), lit(null).cast(LongType).as("event_id"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            lit(null).cast(LongType).as("cid"),
            lit(1).as("kind"), col("event_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("kind"), col("cid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clicks.unionByName(purchases)
          .withColumn("prior_click_id",
            last(col("cid"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("prior_click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH c AS (
             |  SELECT user_id, ts, max(event_id) AS cid FROM events
             |  WHERE event_type = 'click' GROUP BY 1, 2),
             |p AS (
             |  SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase')
             |SELECT p.event_id, c.cid AS prior_click_id
             |FROM p ASOF LEFT JOIN c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Semi-structured extraction: pull a JSON field out of the props column
    // and aggregate — the props path stays codegen'd (get_json_object).
    "q_json_extract" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.select(col("event_type"),
            get_json_object(col("props"), "$.k").cast(LongType).as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"))
          .orderBy(col("event_type"))
      },
      // DuckDB SUM(BIGINT) yields HUGEINT (hashes as float64); cast back to
      // BIGINT so the oracle's value hashes identically to Spark's LongType.
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ROLLUP: per-type and grand-total event stats in one pass (partial
    // aggregation handles both grouping sets map-side).
    "q_rollup_events" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.rollup(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("users"))
          .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
            col("n"), col("users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS users
             |FROM events GROUP BY ROLLUP(event_type)
             |ORDER BY event_type""".stripMargin)),

    // EXISTS (TPC-H Q4 shape on the available columns): orders in a window
    // having at least one returned line item — left-semi join in Spark.
    "q_exists_returned" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >=
            lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")) &&
            col("o_orderdate") <
              lit(java.sql.Timestamp.valueOf("1996-10-01 00:00:00")))
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R").select("l_orderkey")
        o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Set operations: INTERSECT (users who clicked and purchased) and
    // EXCEPT (users who viewed but never clicked), tagged and unioned.
    // Both compile to aggregate/anti-join shapes — one shuffle each on
    // user_id, no driver-side set building.
    "q_setops" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        def ids(t: String) =
          e.filter(col("event_type") === t).select(col("user_id"))
        val both = ids("click").intersect(ids("purchase"))
          .select(lit("click_and_purchase").as("cohort"), col("user_id"))
        val viewOnly = ids("view").except(ids("click"))
          .select(lit("view_no_click").as("cohort"), col("user_id"))
        both.unionByName(viewOnly).orderBy(col("cohort"), col("user_id"))
      },
      Some("""SELECT 'click_and_purchase' AS cohort, user_id FROM (
             |  SELECT user_id FROM events WHERE event_type = 'click'
             |  INTERSECT
             |  SELECT user_id FROM events WHERE event_type = 'purchase')
             |UNION ALL
             |SELECT 'view_no_click', user_id FROM (
             |  SELECT user_id FROM events WHERE event_type = 'view'
             |  EXCEPT
             |  SELECT user_id FROM events WHERE event_type = 'click')
             |ORDER BY cohort, user_id""".stripMargin)),

    // CUBE over (event_type, user bucket): all four grouping sets in one
    // pass; grouping() columns disambiguate data NULLs from subtotal rows.
    "q_cube_events" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("bucket", col("user_id") % 4)
        e.cube(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
            coalesce(col("bucket"), lit(-1)).as("bucket"), col("n"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |  coalesce(bucket, -1) AS bucket, COUNT(*) AS n
             |FROM (SELECT event_type, user_id % 4 AS bucket FROM events)
             |GROUP BY CUBE(event_type, bucket)
             |ORDER BY event_type, bucket""".stripMargin)),

    // FUNNEL analysis — ordered-stage conversion (signup → click →
    // purchase): a user converts stage k only if its event happens AFTER
    // the previous stage's first completion. One groupBy computes the
    // three first-completion times with conditional min aggregates; no
    // self-join, no window — the shuffle carries one row per user.
    "q_funnel" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            col("ts").cast(LongType).as("tse"))
        val stages = e.groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "signup", col("tse")))
            .as("t_signup"))
          .join(e, "user_id")
          .groupBy(col("user_id"), col("t_signup"))
          .agg(min(when(col("event_type") === "click" &&
            col("tse") >= col("t_signup"), col("tse"))).as("t_click"))
          .join(e, "user_id")
          .groupBy(col("user_id"), col("t_signup"), col("t_click"))
          .agg(min(when(col("event_type") === "purchase" &&
            col("tse") >= col("t_click"), col("tse"))).as("t_purchase"))
        stages.agg(
            count(lit(1)).as("n_users"),
            count(col("t_signup")).as("n_signup"),
            count(col("t_click")).as("n_signup_click"),
            count(col("t_purchase")).as("n_full_funnel"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS tse
             |  FROM events),
             |s1 AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'signup' THEN tse END) AS t_signup
             |  FROM e GROUP BY user_id),
             |s2 AS (
             |  SELECT e.user_id, s1.t_signup,
             |    MIN(CASE WHEN e.event_type = 'click'
             |      AND e.tse >= s1.t_signup THEN e.tse END) AS t_click
             |  FROM s1 JOIN e ON s1.user_id = e.user_id
             |  GROUP BY e.user_id, s1.t_signup),
             |s3 AS (
             |  SELECT e.user_id, s2.t_signup, s2.t_click,
             |    MIN(CASE WHEN e.event_type = 'purchase'
             |      AND e.tse >= s2.t_click THEN e.tse END) AS t_purchase
             |  FROM s2 JOIN e ON s2.user_id = e.user_id
             |  GROUP BY e.user_id, s2.t_signup, s2.t_click)
             |SELECT COUNT(*) AS n_users,
             |  COUNT(t_signup) AS n_signup,
             |  COUNT(t_click) AS n_signup_click,
             |  COUNT(t_purchase) AS n_full_funnel
             |FROM s3""".stripMargin)),

    // WINDOWED FUNNEL (ClickHouse `windowFunnel` semantics) — per user,
    // (oracle shared with the streaming twin `q_stream_window_funnel`
    // via [[AdvancedQueries.WindowFunnelOracle]])
    // the deepest view → click → purchase chain whose events ALL fall
    // within W of the chain's FIRST event (W = 1 day here — see the
    // inline note; q_funnel above has no window bound; this is the
    // session-scoped variant every product-analytics engine ships as a
    // dedicated aggregate). Re-expressed as two
    // running-max windows instead of the naive per-user self-joins: over
    // the (user, ts)-ordered stream, `last_view` carries the latest view
    // before each row and `best_anchor` the latest such anchor seen at
    // any STRICTLY-preceding click — a purchase completes the chain iff
    // best_anchor >= its ts − W (v < c < p <= v+W follows by
    // construction; c <= v+W is implied by c < p). ONE sort per user
    // partition, no self-join, no event×event blowup — the form that
    // survives a 100 TB event log (per-partition work is user-activity-
    // bounded; a pathological single user is a time-bounded stream, the
    // EWMA/CUSUM license). Output: users by deepest stage reached.
    "q_window_funnel" -> QueryDef(
      (s, dir) => {
        val W = 86400L // 1-day window: the corpus' ~2 events/user/day
                       // rate puts full chains in range (1 h finds none)
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts").cast(LongType).as("tse"))
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("tse"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val chains = e
          .withColumn("last_view",
            max(when(col("event_type") === "view", col("tse"))).over(ord))
          .withColumn("best_anchor",
            max(when(col("event_type") === "click", col("last_view")))
              .over(ord))
        val stages = chains.groupBy(col("user_id")).agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
          max(when(col("event_type") === "click" &&
            col("last_view") >= col("tse") - W, 1).otherwise(0)).as("s2"),
          max(when(col("event_type") === "purchase" &&
            col("best_anchor") >= col("tse") - W, 1).otherwise(0)).as("s3"))
        stages
          .select(when(col("s3") === 1, 3L).when(col("s2") === 1, 2L)
            .when(col("s1") === 1, 1L).otherwise(0L).as("stage"))
          .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("stage"))
      },
      Some(WindowFunnelOracle)),

    // RETENTION cohorts — users grouped by first-activity hour, counted by
    // how many hours later they return: the (cohort, offset) matrix every
    // engagement dashboard draws. Two aggregations: first-touch per user
    // (one shuffle), then distinct users per (cohort, offset) — the
    // activity table never self-joins.
    "q_retention_cohorts" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"),
            expr("CAST(ts AS LONG) div 3600").as("h"))
        val first = e.groupBy(col("user_id"))
          .agg(min(col("h")).as("cohort_h"))
        e.join(first, "user_id")
          .groupBy(col("cohort_h"), (col("h") - col("cohort_h")).as("offset_h"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_h"), col("offset_h"))
      },
      Some("""WITH e AS (
             |  SELECT user_id,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
             |  FROM events),
             |first AS (
             |  SELECT user_id, MIN(h) AS cohort_h FROM e GROUP BY user_id)
             |SELECT cohort_h, h - cohort_h AS offset_h,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM e JOIN first USING (user_id)
             |GROUP BY cohort_h, h - cohort_h
             |ORDER BY cohort_h, offset_h""".stripMargin)),

    // Moving aggregate over an event-ordered ROWS frame: per user, the
    // 3-event trailing average of `value` — the window-frame shape (ROWS
    // BETWEEN) distinct from the rank/lag windows elsewhere. DECIMAL sum
    // then one double division keeps the frame sum bit-exact.
    "q_moving_avg" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            col("value").cast(DecimalType(18, 2)).as("v"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        e.select(col("user_id"), col("event_id"),
            (sum(col("v")).over(w).cast(DoubleType) /
              count(lit(1)).over(w).cast(DoubleType)).as("mov_avg"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             |    / CAST(COUNT(*) OVER w AS DOUBLE) AS mov_avg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // Explicit GROUPING SETS (the general form ROLLUP/CUBE sugar over) with
    // grouping_id() disambiguation: (type, bucket), (type), (bucket), () —
    // one shuffle computes all four aggregation shapes; `gid` tells subtotal
    // rows from data rows without NULL sentinels.
    "q_grouping_sets" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("bucket", col("user_id") % 4)
        e.createOrReplaceTempView("ev_gsets")
        val out = s.sql(
          """SELECT coalesce(event_type, 'ALL') AS event_type,
            |  coalesce(bucket, -1) AS bucket,
            |  CAST(grouping_id(event_type, bucket) AS BIGINT) AS gid,
            |  COUNT(*) AS n
            |FROM ev_gsets
            |GROUP BY GROUPING SETS ((event_type, bucket), (event_type),
            |  (bucket), ())
            |ORDER BY gid, event_type, bucket""".stripMargin)
        // resolve against the view, then unpin it from the session catalog
        // (the analyzed plan keeps the data reachable; a 3-pass bench must
        // not accumulate per-pass catalog entries)
        out.queryExecution.analyzed
        s.catalog.dropTempView("ev_gsets")
        out
      },
      Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
             |  coalesce(bucket, -1) AS bucket,
             |  CAST(grouping(event_type) * 2 + grouping(bucket) AS BIGINT) AS gid,
             |  COUNT(*) AS n
             |FROM (SELECT event_type, user_id % 4 AS bucket FROM events)
             |GROUP BY GROUPING SETS ((event_type, bucket), (event_type),
             |  (bucket), ())
             |ORDER BY gid, event_type, bucket""".stripMargin)),

    // PIVOT: event counts per user bucket, one column per event type. With
    // explicit pivot values the plan is a single partial-aggregated
    // groupBy — no second pass to discover the domain.
    "q_pivot_events" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("bucket", col("user_id") % 8)
        e.groupBy(col("bucket"))
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy(col("bucket"))
      },
      Some("""SELECT user_id % 8 AS bucket,
             |  count(*) FILTER (event_type = 'click') AS click,
             |  count(*) FILTER (event_type = 'error') AS error,
             |  count(*) FILTER (event_type = 'purchase') AS purchase,
             |  count(*) FILTER (event_type = 'signup') AS signup,
             |  count(*) FILTER (event_type = 'view') AS view
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Exact interpolated percentiles (one sort-based agg per group; both
    // engines use h = (n-1)*q linear interpolation, bit-identical on the
    // integral l_quantity domain).
    "q_percentiles" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        // one percentile(array(...)) call: the per-group value buffer sorts
        // ONCE for all four quantiles instead of once per quantile
        li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75, 0.9))")
            .as("ps"))
          .select(col("l_returnflag"),
            col("ps")(0).as("p25"), col("ps")(1).as("p50"),
            col("ps")(2).as("p75"), col("ps")(3).as("p90"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75,
             |  quantile_cont(l_quantity, 0.9) AS p90
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Sessionization: gap-based sessions (30 min) per user via the classic
    // lag → boundary flag → running count — one shuffle on user_id, every
    // window reuses that partitioning. The streaming twin is
    // session_window; this is the batch/backfill formulation.
    "q_sessionize" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            col("ts").cast(LongType).as("tse"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("tse"), col("event_id"))
        val sessions = e
          .withColumn("prev_ts", lag(col("tse"), 1).over(byUser))
          .withColumn("new_sess",
            (col("prev_ts").isNull || col("tse") - col("prev_ts") > 1800)
              .cast(IntegerType))
          .withColumn("sess_no", sum(col("new_sess")).over(byUser))
        sessions
          .groupBy(col("user_id"), col("sess_no"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tse")).as("sess_start"),
            max(col("tse")).as("sess_end"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_session_events"),
            sum(col("sess_end") - col("sess_start")).as("total_session_sec"))
          .orderBy(col("user_id"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS tse,
             |    CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
             |      OR CAST(floor(epoch(ts)) AS BIGINT)
             |         - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)),
             |sess AS (
             |  SELECT user_id, tse,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tse, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sess_no
             |  FROM flagged),
             |per_sess AS (
             |  SELECT user_id, sess_no, COUNT(*) AS n_events,
             |    MIN(tse) AS sess_start, MAX(tse) AS sess_end
             |  FROM sess GROUP BY 1, 2)
             |SELECT user_id, COUNT(*) AS n_sessions,
             |  MAX(n_events) AS max_session_events,
             |  CAST(SUM(sess_end - sess_start) AS BIGINT) AS total_session_sec
             |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Interval (range) join, bucketized: errors within ±5 min of a purchase
    // by the same user. The naive formulation is an equi-join on user_id
    // with a range residual — fine when users are small; the bucketed form
    // here joins on (user_id, 5-min bucket) with each error copied into the
    // neighbor buckets, which bounds the per-key pair explosion at scale.
    "q_interval_join" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val W = 300L
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").cast(LongType).as("pts"))
          .withColumn("bucket", (col("pts") / W).cast(LongType))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
            col("ts").cast(LongType).as("ets"))
          .withColumn("bucket",
            explode(array((col("ets") / W - 1).cast(LongType),
              (col("ets") / W).cast(LongType),
              (col("ets") / W + 1).cast(LongType))))
        purchases.join(errors,
            col("user_id") === col("e_user") &&
              purchases("bucket") === errors("bucket") &&
              col("ets") >= col("pts") - W && col("ets") <= col("pts") + W)
          .groupBy(col("user_id"), col("purchase_id"))
          .agg(countDistinct(col("error_id")).as("nearby_errors"))
          .orderBy(col("user_id"), col("purchase_id"))
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
             |  COUNT(DISTINCT e.event_id) AS nearby_errors
             |FROM events p JOIN events e
             |  ON p.user_id = e.user_id
             |  AND e.event_type = 'error' AND p.event_type = 'purchase'
             |  AND CAST(floor(epoch(e.ts)) AS BIGINT)
             |      BETWEEN CAST(floor(epoch(p.ts)) AS BIGINT) - 300
             |          AND CAST(floor(epoch(p.ts)) AS BIGINT) + 300
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // CUMULATE window TVF (Flink SQL's third windowing TVF next to TUMBLE
    // and HOP, which q_events_hourly / q_stream_hourly_agg cover): growing
    // windows from each hour start — [H, H+15m), [H, H+30m), [H, H+45m),
    // [H, H+60m) — the "progress so far this hour" report. Re-expressed as
    // an explode over the cumulative window ends an event belongs to
    // (integer arithmetic on epoch seconds) + one aggregate; fan-out ≤ 4
    // rows per event, map-side combined.
    "q_cumulate_window" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("ts").cast(LongType).as("tse"), col("user_id"))
          .withColumn("h", expr("(tse div 3600) * 3600"))
        e.select(col("h").as("window_start"), col("user_id"),
            explode(sequence(expr("((tse - h) div 900) + 1"), lit(4)))
              .as("k"))
          .select(col("window_start"),
            (col("window_start") + col("k") * 900).as("window_end"),
            col("user_id"))
          .groupBy(col("window_start"), col("window_end"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("window_start"), col("window_end"))
      },
      Some("""WITH ev AS (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS tse, user_id
             |  FROM events),
             |w AS (
             |  SELECT tse, user_id, (tse // 3600) * 3600 AS h FROM ev),
             |x AS (
             |  SELECT h AS window_start,
             |    h + CAST(unnest(range((tse - h) // 900 + 1, 5)) AS BIGINT)
             |      * 900 AS window_end,
             |    user_id
             |  FROM w)
             |SELECT window_start, window_end, COUNT(*) AS n_events,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // PageRank over the customer↔supplier trade graph (an edge per
    // distinct pair appearing together on an order, both directions;
    // node ids disambiguated by parity). 5 Pregel-style rounds of exact
    // INTEGER arithmetic — per-edge contribution floor(rank·85/(100·deg)),
    // integer sums commute with any partitioning — so the distributed
    // fixed-point is bit-identical to the oracle's unrolled recursion.
    // Top-50 by (rank, node): influence ranking of trade hubs.
    "graph_pagerank" -> QueryDef(
      // 10 shuffles (2/round) over a small rank table: per-shuffle fixed
      // cost dominates at test scale — pin partitions to data volume (the
      // same tuning the streaming queries apply via withShufflePartitions;
      // at cluster scale the caller sizes partitions to edge volume)
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val g = tradeGraph(s, dir)
        // barrierEvery=5: all five rounds in ONE lazy plan/job — a round
        // references prev ranks once, so lineage grows linearly and the
        // per-round checkpoint jobs were pure fixed cost at this scale.
        // cutFinal=true: the final cut EXECUTES the whole chain here,
        // INSIDE the withShufflePartitions scope — a lazy return would
        // resolve every groupBy/join at the session default (the conf
        // restores before the harness's action; see QueryUtil scaladoc),
        // and exchange stages at 32 tasks over a 16k-row rank table are
        // pure scheduling fixed cost. The one extra materialization is
        // 16k (node, rank) rows.
        val out = graft.operators.PageRank.runAdjacency(g.edgeDeg, g.nodes,
            5, barrierEvery = 5, cutFinal = true)
          .orderBy(col("rank").desc, col("node"))
          .limit(50)
        out
      },
      Some {
        def iter(prev: String, k: Int): String =
          s"""r$k AS (
             |  SELECT n.node,
             |    CAST(150000000 + COALESCE(s.m, 0) AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node,
             |      SUM((r.rank * 85) // (100 * deg.d)) AS m
             |    FROM $prev r
             |    JOIN e ON r.node = e.src
             |    JOIN deg ON deg.src = e.src
             |    GROUP BY e.dst) s USING (node))""".stripMargin
        s"""WITH pairs AS (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |e AS (
           |  SELECT c AS src, p AS dst FROM pairs
           |  UNION ALL
           |  SELECT p AS src, c AS dst FROM pairs),
           |nodes AS (
           |  SELECT DISTINCT src AS node FROM e
           |  UNION SELECT DISTINCT dst FROM e),
           |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
           |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank
           |       FROM nodes),
           |${(1 to 5).map(k => iter(s"r${k - 1}", k)).mkString(",\n")}
           |SELECT node, rank FROM r5
           |ORDER BY rank DESC, node LIMIT 50""".stripMargin
      }),

    // BFS LAYER HISTOGRAM from the min-id node over the same bipartite
    // trade graph PageRank walks — the MIN-PLUS propagation algebra
    // (frontier expand + min-distance combine) where PageRank is
    // SUM-TIMES. Four rounds in one lazy plan, each round = frontier ⋈
    // edges + a map-side-combining min; the distance table never exceeds
    // one row per node, and ONLY the frontier (nodes first reached last
    // round) joins edges, so round cost tracks the frontier, not the
    // graph. Unreachable nodes report as layer -1. All integer.
    // At 100× this is the standard iterative-BFS shape: the edge table is
    // the only big side and it is hash-partitioned by src once.
    "graph_bfs_layers" -> QueryDef(
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val g = tradeGraph(s, dir, withDegrees = false)
        val edges = g.edgeDeg
        val nodes = g.nodes
        var dist = nodes.agg(min(col("node")).as("node"))
          .select(col("node"), lit(0L).as("d"))
        for (r <- 0 until 4) {
          val next = dist.filter(col("d") === r)
            .join(edges, col("node") === col("src"))
            .select(col("dst").as("node"), lit(r + 1L).as("d"))
          // EAGER barrier per round: dist is referenced TWICE next round
          // (frontier filter + union). A lazy cache doesn't help — both
          // branches of one job race the cold cache and compute it twice
          // each, so lineage still replays 2^rounds times (measured 5 s at
          // sf0.1). The eager cut runs each round once, like PageRank.
          dist = graft.operators.IterBarrier.cut(
            dist.union(next).groupBy(col("node")).agg(min(col("d")).as("d")),
            r + 1, reliableEvery = 0)
        }
        val reached = dist.groupBy(col("d"))
          .agg(count(lit(1)).as("n_nodes"))
        val unreachable = nodes.join(dist, Seq("node"), "left_anti")
          .agg(count(lit(1)).as("n_nodes"))
          .select(lit(-1L).as("d"), col("n_nodes"))
        reached.union(unreachable).orderBy(col("d"))
      },
      Some {
        s"""WITH RECURSIVE pairs AS (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |e AS (
           |  SELECT c AS src, p AS dst FROM pairs
           |  UNION ALL
           |  SELECT p AS src, c AS dst FROM pairs),
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |bfs(node, d) AS (
           |  SELECT min(node), CAST(0 AS BIGINT) FROM nodes
           |  UNION
           |  SELECT e.dst, b.d + 1 FROM bfs b JOIN e ON e.src = b.node
           |  WHERE b.d < 4),
           |md AS (SELECT node, min(d) AS d FROM bfs GROUP BY node)
           |SELECT d, n_nodes FROM (
           |  SELECT CAST(d AS BIGINT) AS d, count(*) AS n_nodes
           |  FROM md GROUP BY d
           |  UNION ALL
           |  SELECT CAST(-1 AS BIGINT), count(*) FROM nodes
           |  WHERE node NOT IN (SELECT node FROM md))
           |ORDER BY d""".stripMargin
      }),

    // EVENT-TRANSITION (Markov) MATRIX: per-user behavioral bigrams — for
    // each consecutive event pair in a user's timeline, the (from, to)
    // event-type transition, counted corpus-wide with the per-from-state
    // transition probability. The first-order Markov statistics behind
    // next-event models, funnel diagnostics, and bot detection
    // (self-loop-heavy users). Scale shape: ONE shuffle on user_id (the
    // lag window partitions by user and parallelizes user-ways — never a
    // global sort), then a map-side-combined |types|²-row aggregate; row
    // totals broadcast back. Tie-breaks on event_id make the sequence —
    // and so the matrix — deterministic at any parallelism.
    "q_event_transitions" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts").cast(LongType).as("tse"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("tse"), col("event_id"))
        val tr = e
          .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
          .filter(col("from_type").isNotNull)
          .groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy(col("from_type"))
          .agg(sum(col("n")).as("n_from"))
        tr.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
            round(col("n").cast(DoubleType) /
              col("n_from").cast(DoubleType), 6).as("p"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
             |      AS from_type
             |  FROM events),
             |tr AS (
             |  SELECT from_type, event_type AS to_type, count(*) AS n
             |  FROM seq WHERE from_type IS NOT NULL
             |  GROUP BY from_type, to_type),
             |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
             |        FROM tr GROUP BY from_type)
             |SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
             |  tot.n_from,
             |  round(CAST(tr.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE), 6)
             |    AS p
             |FROM tr JOIN tot USING (from_type)
             |ORDER BY tr.from_type, tr.to_type""".stripMargin)),

    // HOURLY-RATE ANOMALY DETECTION (integer-exact z-score): per event
    // type, hours whose event count deviates from the type's mean by more
    // than two standard deviations — the monitoring primitive behind
    // traffic-spike / outage alerting on an event firehose. The 2σ test is
    // algebraically cleared of divisions: |c−μ|>2σ with μ=S/n and
    // σ²=(n·SS−S²)/n² is exactly (c·n−S)² > 4·(n·SS−S²) — no float
    // boundary can flip a verdict between engines. The squared products go
    // through DECIMAL(38,0) (exact to 10^38, i.e. ~10^19 events/type):
    // pure-BIGINT products would wrap silently in Spark but ERROR in
    // DuckDB past ~3·10^9 events/type — a cross-engine divergence exactly
    // where the integer claim matters. Past the DECIMAL(38) envelope the
    // engines would STILL diverge in kind (non-ANSI Spark nulls an
    // overflowed decimal product, silently dropping the row from the
    // filter; DuckDB raises), so the plan carries an assert_true
    // precondition on the moment magnitudes: Spark now fails loudly at
    // the same boundary instead of suppressing anomalies. Scale shape: the
    // raw scan collapses to one map-side-combined (type, hour) count; the
    // per-type moment table is ≤|types| rows broadcast back onto the
    // hourly table. Nothing downstream of the first aggregate scales with
    // raw event volume.
    "q_event_zscore_anomaly" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val hourly = e.groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
        val stats = hourly.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_hours"),
          sum(col("cnt")).as("s"),
          sum(col("cnt") * col("cnt")).as("ss"))
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val dbl = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
        // exact-envelope precondition: with cnt·n < 1e18, s < 1e18 and
        // n·ss < 1e37 every product below stays inside DECIMAL(38,0)
        // (dev² < 4e36, 4·(n·ss − s²) < 8e37). Beyond it, non-ANSI Spark
        // would null the overflow and silently DROP the row where DuckDB
        // errors — assert_true makes this side fail loudly instead.
        val withinEnvelope =
          (dbl(col("cnt")) * dbl(col("n_hours")) < 1e18) &&
          (dbl(col("s")) < 1e18) &&
          (dbl(col("n_hours")) * dbl(col("ss")) < 1e37)
        hourly.join(broadcast(stats), "event_type")
          .filter(assert_true(withinEnvelope,
            lit("q_event_zscore_anomaly: per-type moments exceed the " +
              "exact DECIMAL(38,0) envelope (~1e18 events/type); " +
              "verdicts past this bound would be engine-divergent"))
            .isNull)
          .withColumn("dev",
            dec(col("cnt")) * dec(col("n_hours")) - dec(col("s")))
          .filter(col("dev") * col("dev") >
            dec(lit(4L)) * (dec(col("n_hours")) * dec(col("ss"))
              - dec(col("s")) * dec(col("s"))))
          .select(col("event_type"), col("hour"), col("cnt"),
            col("n_hours"), col("s").as("sum_cnt"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH hourly AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |stats AS (
             |  SELECT event_type, count(*) AS n_hours,
             |    CAST(sum(cnt) AS BIGINT) AS s,
             |    CAST(sum(cnt * cnt) AS BIGINT) AS ss
             |  FROM hourly GROUP BY 1)
             |SELECT h.event_type, h.hour, CAST(h.cnt AS BIGINT) AS cnt,
             |  CAST(st.n_hours AS BIGINT) AS n_hours, st.s AS sum_cnt
             |FROM hourly h JOIN stats st USING (event_type)
             |WHERE (CAST(h.cnt AS DECIMAL(38,0)) * st.n_hours - st.s)
             |      * (CAST(h.cnt AS DECIMAL(38,0)) * st.n_hours - st.s)
             |      > 4 * (CAST(st.n_hours AS DECIMAL(38,0)) * st.ss
             |             - CAST(st.s AS DECIMAL(38,0)) * st.s)
             |ORDER BY h.event_type, h.hour""".stripMargin)),

    // INTER-ARRIVAL HISTOGRAM: the distribution of per-user gaps between
    // consecutive events, bucketed by power-of-two seconds (bit length of
    // the exact gap — no float log at boundaries). The burstiness audit
    // behind session-timeout choice (where does the bimodal gap valley
    // sit?) and bot detection (impossible sub-second regularity). Scale
    // shape: ONE user_id-partitioned lag window (parallelizes user-ways,
    // never a global sort; event_id ties keep the sequence deterministic),
    // then a ≤64-row map-side-combined rollup.
    "q_interarrival_hist" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            col("ts").cast(LongType).as("tse"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("tse"), col("event_id"))
        e.withColumn("prev", lag(col("tse"), 1).over(byUser))
          .filter(col("prev").isNotNull)
          .select((col("tse") - col("prev")).as("gap"))
          .select(col("gap"),
            (length(bin(col("gap"))) - 1).cast(LongType).as("bucket"))
          .groupBy(col("bucket")).agg(
            count(lit(1)).as("n_gaps"),
            min(col("gap")).as("min_gap"),
            max(col("gap")).as("max_gap"),
            sum(col("gap")).as("sum_gap"))
          .orderBy(col("bucket"))
      },
      Some("""WITH seq AS (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT)
             |      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             |        PARTITION BY user_id
             |        ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
             |      AS gap
             |  FROM events)
             |SELECT CAST(length(bin(gap)) - 1 AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_gaps,
             |  CAST(min(gap) AS BIGINT) AS min_gap,
             |  CAST(max(gap) AS BIGINT) AS max_gap,
             |  CAST(sum(gap) AS BIGINT) AS sum_gap
             |FROM seq WHERE gap IS NOT NULL
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // EWMA TRAFFIC SMOOTHING (integer-exact recurrence): per event type,
    // the exponentially-weighted moving average of hourly counts with
    // α = 0.2 in fixed-point millis — E_t = (200·(c_t·1000) + 800·E_{t−1})
    // div 1000, E_0 = c_0·1000. The smoothing baseline behind rate
    // alerting and capacity forecasting; kept in pure BIGINT so the
    // sequential recurrence is bit-identical to the oracle's recursive
    // CTE at any parallelism. Scale shape: the firehose collapses to one
    // map-side-combined (type, hour) count, then the recurrence runs
    // per-type via flatMapGroups over a BOUNDED series (hours in the
    // window) — parallelizes type-ways; at 100 TB the series would be
    // segmented by day and the per-segment carry chained, same shape as
    // the distributed prefix-sum device.
    "q_events_ewma" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
          .as[HourCnt]
        hourly.groupByKey(_.event_type)
          .flatMapGroups { (_, rows) =>
            var e = 0L
            rows.toSeq.sortBy(_.hour.getTime).iterator.zipWithIndex.map {
              case (r, i) =>
                e = if (i == 0) r.cnt * 1000L
                    else (200L * (r.cnt * 1000L) + 800L * e) / 1000L
                EwmaRow(r.event_type, r.hour, r.cnt, e)
            }
          }
          .toDF()
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH RECURSIVE hourly0 AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |hourly AS (
             |  SELECT event_type, hour, cnt,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY hour) AS BIGINT) AS rn
             |  FROM hourly0),
             |ew(event_type, rn, hour, cnt, e) AS (
             |  SELECT event_type, rn, hour, cnt, cnt * 1000
             |  FROM hourly WHERE rn = 1
             |  UNION ALL
             |  SELECT h.event_type, h.rn, h.hour, h.cnt,
             |    (200 * (h.cnt * 1000) + 800 * w.e) // 1000
             |  FROM ew w JOIN hourly h
             |    ON h.event_type = w.event_type AND h.rn = w.rn + 1)
             |SELECT event_type, hour, cnt, CAST(e AS BIGINT) AS ewma_milli
             |FROM ew ORDER BY event_type, hour""".stripMargin)),

    // WEEKLY COHORT RETENTION MATRIX — the coarser, ppm-normalized
    // sibling of the hour-grain q_retention_cohorts (different grain,
    // different read: weekly product retention vs short-horizon return
    // behavior): users cohorted by first-active week, then for
    // each (cohort, week offset) the count of cohort members active that
    // week and their share of the cohort in ppm (one integral division).
    // Week truncation is Monday-anchored in both engines, the offset is
    // an exact day-difference div 7, and activity is the DISTINCT
    // (user, week) grid so multi-event weeks count once. 100 TB shape:
    // the firehose collapses to the distinct user-week grid (one shuffle
    // on user), the first-seen table is user-sized and joins on the same
    // key, and the matrix is a ≤|cohorts|·|offsets| rollup; cohort sizes
    // come from the offset-0 diagonal, not a rescan.
    "q_weekly_retention" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val firsts = e.groupBy(col("user_id"))
          .agg(min(col("wk")).as("cohort"))
        val act = e.distinct()
        val cells = act.join(firsts, "user_id")
          .select(col("cohort"),
            (datediff(col("wk"), col("cohort")) / 7).cast(LongType)
              .as("offset_w"))
          .groupBy(col("cohort"), col("offset_w"))
          .agg(count(lit(1)).as("n_users"))
        val sizes = cells.filter(col("offset_w") === 0)
          .select(col("cohort"), col("n_users").as("cohort_size"))
        cells.join(sizes, "cohort")
          .selectExpr("cohort", "offset_w", "n_users",
            "(n_users * 1000000) div cohort_size AS ret_ppm")
          .orderBy(col("cohort"), col("offset_w"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
             |f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY 1),
             |a AS (
             |  SELECT DISTINCT e.user_id, f.cohort,
             |    datediff('day', f.cohort, e.wk) // 7 AS offset_w
             |  FROM e JOIN f USING (user_id)),
             |c AS (
             |  SELECT cohort, offset_w, count(*) AS n_users
             |  FROM a GROUP BY 1, 2),
             |s AS (SELECT cohort, n_users AS cohort_size FROM c
             |      WHERE offset_w = 0)
             |SELECT c.cohort, CAST(c.offset_w AS BIGINT) AS offset_w,
             |  CAST(c.n_users AS BIGINT) AS n_users,
             |  (c.n_users * 1000000) // s.cohort_size AS ret_ppm
             |FROM c JOIN s USING (cohort)
             |ORDER BY cohort, offset_w""".stripMargin)),

    // HOLT DOUBLE-EXPONENTIAL SMOOTHING (integer-exact): the trend-aware
    // upgrade of q_events_ewma — per event type, level and trend with
    // α = β = 0.25 in fixed-point millis over hourly counts:
    //   L_t = (250·(c_t·1000) + 750·(L_{t−1} + T_{t−1})) div 1000
    //   T_t = (250·(L_t − L_{t−1}) + 750·T_{t−1}) div 1000
    // (L_1 = c_1·1000, T_1 = 0), forecast = L + T — the one-step-ahead
    // capacity forecast a rate alerter compares the NEXT hour against.
    // The trend difference can be negative: both engines truncate
    // integer division toward zero (Scala `/`, DuckDB `//`), so the
    // signed recurrence is bit-identical to the oracle's recursive CTE.
    // Scale shape: one map-side (type, hour) count, then the recurrence
    // parallelizes type-ways over bounded series (same segmentation note
    // as q_events_ewma at 100 TB).
    "q_holt_trend_forecast" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
          .as[HourCnt]
        hourly.groupByKey(_.event_type)
          .flatMapGroups { (_, rows) =>
            var lv = 0L
            var tr = 0L
            rows.toSeq.sortBy(_.hour.getTime).iterator.zipWithIndex.map {
              case (r, i) =>
                if (i == 0) { lv = r.cnt * 1000L; tr = 0L }
                else {
                  val prev = lv
                  lv = (250L * (r.cnt * 1000L) + 750L * (lv + tr)) / 1000L
                  tr = (250L * (lv - prev) + 750L * tr) / 1000L
                }
                HoltRow(r.event_type, r.hour, r.cnt, lv, tr, lv + tr)
            }
          }
          .toDF()
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH RECURSIVE hourly0 AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |hourly AS (
             |  SELECT event_type, hour, cnt,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY hour) AS BIGINT) AS rn
             |  FROM hourly0),
             |ht(event_type, rn, hour, cnt, lv, tr) AS (
             |  SELECT event_type, rn, hour, cnt, cnt * 1000,
             |    CAST(0 AS BIGINT)
             |  FROM hourly WHERE rn = 1
             |  UNION ALL
             |  SELECT h.event_type, h.rn, h.hour, h.cnt,
             |    (250 * (h.cnt * 1000) + 750 * (w.lv + w.tr)) // 1000,
             |    (250 * (((250 * (h.cnt * 1000) + 750 * (w.lv + w.tr))
             |        // 1000) - w.lv) + 750 * w.tr) // 1000
             |  FROM ht w JOIN hourly h
             |    ON h.event_type = w.event_type AND h.rn = w.rn + 1)
             |SELECT event_type, hour, cnt,
             |  CAST(lv AS BIGINT) AS level_milli,
             |  CAST(tr AS BIGINT) AS trend_milli,
             |  CAST(lv + tr AS BIGINT) AS forecast_milli
             |FROM ht ORDER BY event_type, hour""".stripMargin)),

    // ANOMALY PERSISTENCE — a single hot hour is noise; N CONSECUTIVE
    // hot hours are an incident. Hours where a type's count reaches 4/3
    // of its observed hourly mean (exact cross-multiplied test
    // 3·cnt·n_hours ≥ 4·total — no float mean; the rational threshold
    // fires at every tested scale where a hard 2× only fires on sparse
    // series) are grouped into consecutive runs by
    // the gaps-and-islands device (h − row_number is constant within a
    // run), and only runs of ≥ 2 hours are reported with their span and
    // peak. A zero/absent hour can never flag, so the island pass needs
    // no dense grid — it runs over the FLAGGED set only, which is
    // incident-sized, not wall-clock-sized; the firehose pays one
    // map-side hourly rollup.
    "q_anomaly_persistence" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ts AS LONG) div 3600").as("h"))
          .groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("cnt"))
        val tt = c.groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_hours"))
        val flagged = c.join(tt, "event_type")
          .filter(lit(3L) * col("cnt") * col("n_hours")
            >= lit(4L) * col("tot"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        flagged
          .withColumn("grp", col("h") - row_number().over(w))
          .groupBy(col("event_type"), col("grp"))
          .agg(min(col("h")).as("start_h"),
            count(lit(1)).as("run_hours"),
            max(col("cnt")).as("peak_cnt"))
          .filter(col("run_hours") >= 2)
          .select(col("event_type"), col("start_h"), col("run_hours"),
            col("peak_cnt"))
          .orderBy(col("event_type"), col("start_h"))
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |tt AS (
             |  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot,
             |    CAST(count(*) AS BIGINT) AS n_hours
             |  FROM c GROUP BY 1),
             |flagged AS (
             |  SELECT c.event_type, c.h, c.cnt,
             |    c.h - row_number() OVER (PARTITION BY c.event_type
             |      ORDER BY c.h) AS grp
             |  FROM c JOIN tt USING (event_type)
             |  WHERE 3 * c.cnt * tt.n_hours >= 4 * tt.tot)
             |SELECT event_type, min(h) AS start_h,
             |  count(*) AS run_hours,
             |  CAST(max(cnt) AS BIGINT) AS peak_cnt
             |FROM flagged GROUP BY event_type, grp
             |HAVING count(*) >= 2
             |ORDER BY event_type, start_h""".stripMargin)),

    // HOUR-OF-WEEK SEASONAL ANOMALIES — the monitoring read CUSUM and
    // z-scores both miss: an hour that is normal for the corpus but
    // abnormal FOR ITS SLOT (3am Tuesday behaving like noon Friday).
    // The seasonal expectation is the per-(type, dow, hour-of-day) mean
    // over the series' weeks; the residual is carried exactly by
    // cross-multiplication, dev20 = |cnt·n_slot − tot_slot|·20 div
    // n_slot (4- and 5-sample slots both divide 20, so the ranking
    // metric is the exact |cnt − mean| in twentieths — no float mean in
    // either engine). Day-of-week is pure epoch arithmetic ((h div 24 +
    // 4) mod 7 — epoch day 0 was a Thursday), no calendar functions.
    // Scale shape: the firehose pays ONE map-side-combined (type, hour)
    // rollup; the dense grid, slot table and residual join are all
    // wall-clock-bounded (|types| × hours), never event-sized; the
    // report is a top-10 TakeOrdered.
    "q_seasonal_anomalies" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ts AS LONG) div 3600").as("h"))
        val c = e.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("cnt"))
        val bounds = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val grid = e.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        val dense = grid.join(c, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))
          .withColumn("dow", expr("pmod((h div 24) + 4, 7)"))
          .withColumn("hod", expr("pmod(h, 24)"))
        val slot = dense.groupBy(col("event_type"), col("dow"), col("hod"))
          .agg(count(lit(1)).as("n_slot"), sum(col("cnt")).as("tot_slot"))
        dense.join(slot, Seq("event_type", "dow", "hod"))
          .withColumn("dev20",
            expr("(abs(cnt * n_slot - tot_slot) * 20) div n_slot"))
          .select(col("event_type"), col("h"), col("dow"), col("hod"),
            col("cnt"), col("n_slot"), col("tot_slot"), col("dev20"))
          .orderBy(col("dev20").desc, col("event_type"), col("h"))
          .limit(10)
      },
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
             |  FROM events),
             |c AS (
             |  SELECT event_type, h, count(*) AS cnt FROM e GROUP BY 1, 2),
             |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
             |grid AS (
             |  SELECT t.event_type, unnest(range(b.h0, b.h1 + 1)) AS h
             |  FROM (SELECT DISTINCT event_type FROM e) t, b),
             |dense AS (
             |  SELECT g.event_type, g.h,
             |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
             |    ((g.h // 24) + 4) % 7 AS dow, g.h % 24 AS hod
             |  FROM grid g LEFT JOIN c
             |    ON c.event_type = g.event_type AND c.h = g.h),
             |slot AS (
             |  SELECT event_type, dow, hod,
             |    CAST(count(*) AS BIGINT) AS n_slot,
             |    CAST(SUM(cnt) AS BIGINT) AS tot_slot
             |  FROM dense GROUP BY 1, 2, 3)
             |SELECT d.event_type, d.h, d.dow, d.hod, d.cnt,
             |  s.n_slot, s.tot_slot,
             |  CAST((abs(d.cnt * s.n_slot - s.tot_slot) * 20) // s.n_slot
             |    AS BIGINT) AS dev20
             |FROM dense d JOIN slot s
             |  ON d.event_type = s.event_type AND d.dow = s.dow
             |    AND d.hod = s.hod
             |ORDER BY dev20 DESC, d.event_type, d.h LIMIT 10""".stripMargin)),

    // CUSUM CHANGE-POINT DETECTION (integer-exact): the sequential drift
    // detector that catches what a pointwise z-test misses — a SUSTAINED
    // small rate shift. Per type, the one-sided CUSUM over hourly counts,
    // S_t = max(0, S_{t−1} + (c_t − μ) − slack), alarming when S_t clears
    // the decision interval. Cleared of divisions by scaling through
    // n_hours: with μ = S/n, slack = μ/4 and h = 2μ, the recurrence is
    // S'_t = max(0, S'_{t−1} + n·c_t − S − S div 4), alarm at S'_t > 2·S —
    // all BIGINT, bit-identical to the oracle's recursive CTE. Scale
    // shape: one map-side (type, hour) count + a ≤|types|-row moment
    // broadcast; the recurrence parallelizes type-ways over bounded
    // series (same segmentation note as q_events_ewma at 100 TB).
    "q_events_cusum" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
        val stats = hourly.groupBy(col("event_type").as("et")).agg(
          count(lit(1)).as("n_hours"), sum(col("cnt")).as("s"))
        hourly.join(broadcast(stats), col("event_type") === col("et"))
          .select(col("event_type"), col("hour"), col("cnt"),
            col("n_hours"), col("s"))
          .as[HourCntStats]
          .groupByKey(_.event_type)
          .flatMapGroups { (_, rows) =>
            var cusum = 0L
            rows.toSeq.sortBy(_.hour.getTime).iterator.map { r =>
              cusum = math.max(0L,
                cusum + r.n_hours * r.cnt - r.s - r.s / 4L)
              CusumRow(r.event_type, r.hour, r.cnt, cusum,
                cusum > 2L * r.s)
            }
          }
          .toDF()
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH RECURSIVE hourly0 AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |stats AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             |    CAST(sum(cnt) AS BIGINT) AS s
             |  FROM hourly0 GROUP BY 1),
             |hourly AS (
             |  SELECT h.event_type, h.hour, h.cnt, st.n_hours, st.s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY h.event_type
             |      ORDER BY h.hour) AS BIGINT) AS rn
             |  FROM hourly0 h JOIN stats st USING (event_type)),
             |cu(event_type, rn, hour, cnt, s, cusum) AS (
             |  SELECT event_type, rn, hour, cnt, s,
             |    greatest(CAST(0 AS BIGINT),
             |      n_hours * cnt - s - s // 4)
             |  FROM hourly WHERE rn = 1
             |  UNION ALL
             |  SELECT h.event_type, h.rn, h.hour, h.cnt, h.s,
             |    greatest(CAST(0 AS BIGINT),
             |      w.cusum + h.n_hours * h.cnt - h.s - h.s // 4)
             |  FROM cu w JOIN hourly h
             |    ON h.event_type = w.event_type AND h.rn = w.rn + 1)
             |SELECT event_type, hour, cnt,
             |  CAST(cusum AS BIGINT) AS cusum_scaled,
             |  cusum > 2 * s AS is_alarm
             |FROM cu ORDER BY event_type, hour""".stripMargin)),

    // GRAPH DEGREE HISTOGRAM: the power-law audit run before ANY iterative
    // graph algorithm commits — node degrees of the customer↔supplier
    // trade graph bucketed by power-of-two degree (bit length of the exact
    // count, no float log at bucket boundaries), split by bipartite side.
    // A heavy right tail here is what forecasts skew in PageRank/CC
    // message volume and motivates salting the hub keys. Scale shape: the
    // deduped pair table is the only big shuffle; degrees are a map-side-
    // combined count per node; the histogram is a ≤2·64-row rollup.
    "graph_degree_hist" -> QueryDef(
      (s, dir) => {
        // reads the shared trade-graph artifact (the one corpus-sized
        // join+distinct, built once per snapshot by tradePairs — which
        // deliberately carries NO broadcast hint: orders grows linearly
        // with SF, and AQE picks BHJ only when the projection fits);
        // parity-decode back to raw customer/supplier ids
        val pairs = tradePairs(s, dir)
          .selectExpr("c div 2 AS c", "p div 2 AS p")
        val degC = pairs.groupBy(col("c").as("node"))
          .agg(count(lit(1)).as("deg"))
          .withColumn("side", lit("customer"))
        val degP = pairs.groupBy(col("p").as("node"))
          .agg(count(lit(1)).as("deg"))
          .withColumn("side", lit("supplier"))
        degC.union(degP)
          .select(col("side"),
            (length(bin(col("deg"))) - 1).cast(LongType).as("bucket"),
            col("deg"), col("node"))
          .groupBy(col("side"), col("bucket")).agg(
            count(lit(1)).as("n_nodes"),
            sum(col("deg")).as("n_edges"),
            min(col("node")).as("min_node"))
          .orderBy(col("side"), col("bucket"))
      },
      Some("""WITH pairs AS (
             |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |deg AS (
             |  SELECT 'customer' AS side, c AS node, count(*) AS deg
             |  FROM pairs GROUP BY c
             |  UNION ALL
             |  SELECT 'supplier' AS side, p AS node, count(*) AS deg
             |  FROM pairs GROUP BY p)
             |SELECT side, CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(sum(deg) AS BIGINT) AS n_edges,
             |  CAST(min(node) AS BIGINT) AS min_node
             |FROM deg GROUP BY 1, 2 ORDER BY side, bucket""".stripMargin)),

    // ROBUST OUTLIER DETECTION (median / MAD) — the heavy-tail-safe twin
    // of q_event_zscore_anomaly: per event type, values more than 3 MADs
    // from the median are flagged. Everything is exact integer selection
    // on cents (the DECIMAL(18,2) money contract), carried DOUBLED so
    // even-count medians stay integral: med2 = v_lo + v_hi (= 2*median),
    // per-value deviation D = |2v - med2| (= 2*dev), mad2x = D_lo + D_hi
    // (= 4*MAD), and the flag dev > 3*MAD becomes 2*D > 3*mad2x — no
    // division, no float boundary anywhere.
    // 100 TB shape: the firehose collapses ONCE into a (type, cents)
    // histogram (map-side combined; the cents domain is bounded — ~49k
    // cells/type at any corpus size). Median and MAD are CUMSUM
    // SELECTIONS over that histogram (windows partition by type over
    // histogram rows, never a per-type sort of the events), the deviation
    // histogram derives from the value histogram by pure map + regroup,
    // and the outlier count is a filtered rollup of histogram cells. The
    // oracle states the same truth the naive way (per-type row_number
    // middles) — semantics identical, plan deliberately not.
    "q_event_mad_outliers" -> QueryDef(
      // ONE LINEAR JOB (round-9 fold of the former 3-job cascade): the
      // median/MAD selections are FULL-FRAME WINDOW COLUMNS carried down
      // the dataflow — hist window→ per-row med2 → derive the deviation
      // histogram by map+regroup → second window → per-row mad2x → one
      // type-keyed rollup emits n/med2/mad2x/outliers together. The old
      // collect-as-literal device existed because med/mad fed THREE plan
      // consumers (each re-ran the selection); a single linear chain has
      // no fanout, so nothing re-executes and nothing collects. Every
      // post-histogram table is ≤|types|·|distinct cents| rows; pin
      // shuffle partitions to that volume and FORCE the plan inside the
      // pin via the eager barrier.
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val e = Tables.load(s, dir, "events")
        val cents = (graft.MoneyMath.dec(col("value")) * 100).cast(LongType)
        val hist = e.select(col("event_type"), cents.as("v"))
          .groupBy(col("event_type"), col("v"))
          .agg(count(lit(1)).as("c"))
        // med2 selection as WINDOW COLUMNS over a (type, val, count)
        // histogram: rank-lo/rank-hi picked from the running cumsum and
        // added separately so odd counts double the single middle
        // (= 2*median); the lo/hi picks ride a full-partition frame over
        // the SAME sort as the cumsum — one exchange, one sort, no join.
        def withMed2(h: DataFrame, valCol: String,
            outName: String): DataFrame = {
          val wc = Window.partitionBy(col("event_type"))
            .orderBy(col(valCol))
            .rowsBetween(Window.unboundedPreceding, 0)
          val wt = Window.partitionBy(col("event_type"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)
          h.withColumn("cum", sum(col("c")).over(wc))
            .withColumn("n", sum(col("c")).over(wt))
            .withColumn("prev", col("cum") - col("c"))
            .withColumn("lo", expr("(n + 1) div 2"))
            .withColumn("hi", expr("(n + 2) div 2"))
            .withColumn(outName,
              sum(when(col("prev") < col("lo") && col("lo") <= col("cum"),
                col(valCol)).otherwise(0L)).over(wt) +
              sum(when(col("prev") < col("hi") && col("hi") <= col("cum"),
                col(valCol)).otherwise(0L)).over(wt))
            .drop("cum", "prev", "lo", "hi")
        }
        val dhist = withMed2(hist, "v", "med2")
          .select(col("event_type"), col("n"), col("med2"),
            abs(lit(2) * col("v") - col("med2")).as("d"), col("c"))
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("c")).as("c"), min(col("n")).as("n"),
            min(col("med2")).as("med2"))
        // second selection over the deviation histogram; the final
        // type-keyed rollup reuses the window's hash partitioning (no
        // new exchange) and emits the whole report row at once
        val rep = withMed2(dhist.drop("n").withColumnRenamed("med2", "m2"),
            "d", "mad2x")
          .groupBy(col("event_type"))
          .agg(sum(col("c")).as("n"), min(col("m2")).as("med2"),
            min(col("mad2x")).as("mad2x"),
            sum(when(col("d") * 2 > col("mad2x") * 3, col("c"))
              .otherwise(0L)).as("n_outliers"))
        graft.operators.IterBarrier.cut(rep, 1, reliableEvery = 0)
          .orderBy(col("event_type"))
      },
      Some("""WITH v AS (
             |  SELECT event_type,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
             |  FROM events),
             |r AS (
             |  SELECT event_type, v,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM v),
             |m AS (
             |  SELECT event_type, max(n) AS n,
             |    CAST(SUM(CASE WHEN rk = (n+1)//2 THEN v ELSE 0 END)
             |      + SUM(CASE WHEN rk = (n+2)//2 THEN v ELSE 0 END)
             |      AS BIGINT) AS med2
             |  FROM r GROUP BY event_type),
             |d AS (
             |  SELECT v.event_type, abs(2*v.v - m.med2) AS d
             |  FROM v JOIN m USING (event_type)),
             |rd AS (
             |  SELECT event_type, d,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rk,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM d),
             |md AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN rk = (n+1)//2 THEN d ELSE 0 END)
             |      + SUM(CASE WHEN rk = (n+2)//2 THEN d ELSE 0 END)
             |      AS BIGINT) AS mad2x
             |  FROM rd GROUP BY event_type),
             |o AS (
             |  SELECT d.event_type, count(*) AS n_outliers
             |  FROM d JOIN md USING (event_type)
             |  WHERE d.d * 2 > md.mad2x * 3
             |  GROUP BY d.event_type)
             |SELECT m.event_type, m.n, m.med2, md.mad2x,
             |  CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
             |FROM m JOIN md USING (event_type)
             |LEFT JOIN o USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    // EQUI-DEPTH HISTOGRAM — the optimizer-statistics / load-balancing
    // primitive: per event type, quartile boundary VALUES (the exact
    // 25/50/75th-percentile cents, cut_k = min value whose cumulative
    // count reaches ceil(k·n/4)) and the resulting four buckets' count
    // and value range. Ties share a bucket (value-based split — the
    // boundary semantics an optimizer histogram wants, stated
    // identically in both engines). Selection is the same cumsum-over-
    // bounded-histogram device as the MAD detector: the corpus collapses
    // ONCE into the (type, cents) histogram, cuts come off histogram
    // cumsums, buckets are a CASE against the broadcast cut table — a
    // per-type sort of the events never happens (what naive ntile would
    // do).
    "q_equidepth_histogram" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val cents = (graft.MoneyMath.dec(col("value")) * 100).cast(LongType)
        val hist = e.select(col("event_type"), cents.as("v"))
          .groupBy(col("event_type"), col("v"))
          .agg(count(lit(1)).as("c")).cache()
        val wc = Window.partitionBy(col("event_type")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ann = hist.withColumn("cum", sum(col("c")).over(wc))
          .join(hist.groupBy(col("event_type")).agg(sum(col("c")).as("n")),
            "event_type")
        // cut_k = min v with cum >= ceil(k*n/4)
        val cuts = ann
          .selectExpr("event_type", "v", "cum", "n",
            "(1*n + 3) div 4 AS r1", "(2*n + 3) div 4 AS r2",
            "(3*n + 3) div 4 AS r3")
          .groupBy(col("event_type"))
          .agg(min(when(col("cum") >= col("r1"), col("v"))).as("c1"),
            min(when(col("cum") >= col("r2"), col("v"))).as("c2"),
            min(when(col("cum") >= col("r3"), col("v"))).as("c3"))
        hist.join(broadcast(cuts), "event_type")
          .selectExpr("event_type", "v", "c",
            "1 + CAST(v > c1 AS INT) + CAST(v > c2 AS INT) " +
              "+ CAST(v > c3 AS INT) AS bucket")
          .groupBy(col("event_type"), col("bucket"))
          .agg(sum(col("c")).as("n"), min(col("v")).as("lo"),
            max(col("v")).as("hi"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""WITH h AS (
             |  SELECT event_type,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |ann AS (
             |  SELECT event_type, v, c,
             |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum,
             |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
             |  FROM h),
             |cuts AS (
             |  SELECT event_type,
             |    MIN(CASE WHEN cum >= (1*n + 3) // 4 THEN v END) AS c1,
             |    MIN(CASE WHEN cum >= (2*n + 3) // 4 THEN v END) AS c2,
             |    MIN(CASE WHEN cum >= (3*n + 3) // 4 THEN v END) AS c3
             |  FROM ann GROUP BY event_type)
             |SELECT h.event_type,
             |  1 + CAST(h.v > c.c1 AS INT) + CAST(h.v > c.c2 AS INT)
             |    + CAST(h.v > c.c3 AS INT) AS bucket,
             |  CAST(SUM(h.c) AS BIGINT) AS n,
             |  CAST(MIN(h.v) AS BIGINT) AS lo, CAST(MAX(h.v) AS BIGINT) AS hi
             |FROM h JOIN cuts c USING (event_type)
             |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin)),

    // PEAK CONCURRENCY (sweep line) — per event type, the maximum number
    // of simultaneously-active 5-minute activity spans and the first
    // second it is reached: each event opens a [t, t+300) span, the sweep
    // explodes it to (+1 at t, -1 at t+300) deltas, and a running sum in
    // (time, starts-before-ends) order IS the concurrency curve. The
    // capacity-planning primitive behind connection pools and session
    // stores. All exact integers. Scale note: the running sum is a
    // per-type ordered prefix — at test scale one window; at 100 TB the
    // sweep segments by day and carries each segment's delta total across
    // via the distributed prefix-sum device (SequencePacking), since
    // concurrency at a boundary = carried sum + in-segment prefix.
    "q_concurrent_sessions" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"), col("ts").cast(LongType).as("t0"))
        val deltas = e.select(col("event_type"), col("t0").as("t"),
            lit(1L).as("delta"))
          .union(e.select(col("event_type"), (col("t0") + 300L).as("t"),
            lit(-1L).as("delta")))
        val sweep = Window.partitionBy(col("event_type"))
          .orderBy(col("t"), col("delta").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val curve = deltas
          .withColumn("conc", sum(col("delta")).over(sweep))
        val peak = curve.groupBy(col("event_type"))
          .agg(max(col("conc")).as("peak_concurrency"))
        curve.join(broadcast(peak), "event_type")
          .filter(col("conc") === col("peak_concurrency"))
          .groupBy(col("event_type"), col("peak_concurrency"))
          .agg(min(col("t")).as("first_peak_epoch"))
          .select(col("event_type"), col("peak_concurrency"),
            col("first_peak_epoch"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t0
             |  FROM events),
             |d AS (
             |  SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta FROM e
             |  UNION ALL
             |  SELECT event_type, t0 + 300 AS t, CAST(-1 AS BIGINT) FROM e),
             |curve AS (
             |  SELECT event_type, t,
             |    CAST(SUM(delta) OVER (PARTITION BY event_type
             |      ORDER BY t, delta DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS conc
             |  FROM d),
             |peak AS (
             |  SELECT event_type, max(conc) AS peak_concurrency FROM curve
             |  GROUP BY event_type)
             |SELECT c.event_type, p.peak_concurrency,
             |  CAST(min(c.t) AS BIGINT) AS first_peak_epoch
             |FROM curve c JOIN peak p
             |  ON c.event_type = p.event_type AND c.conc = p.peak_concurrency
             |GROUP BY c.event_type, p.peak_concurrency
             |ORDER BY c.event_type""".stripMargin)),

    // TIME-SERIES GAP FILL — the resampling pass every monitoring/
    // forecasting consumer needs before a recurrence runs: the hourly
    // count series per event type is DENSIFIED onto the full hour grid
    // (missing hours appear as explicit zero rows, flagged), and the last
    // observed count carries forward (LOCF) — all integer epoch-second
    // arithmetic, no interval types to disagree across engines.
    // 100 TB shape: the firehose contributes ONE map-side-combined
    // (type, hour) count; the grid is |types| x |hours| rows generated
    // from a 1-row bound aggregate (bounded by the time span, NOT the
    // corpus); the LOCF window partitions by type over series rows (the
    // same day-segmentation note as the EWMA/CUSUM recurrences applies
    // for unbounded retention).
    "q_timeseries_gapfill" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr("(CAST(ts AS LONG) div 3600) * 3600").as("h"))
        val counts = e.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("cnt")).cache()
        val bounds = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val grid = counts.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(expr("sequence(h0, h1, 3600)")).as("h"))
        val locf = Window.partitionBy(col("event_type")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(counts, Seq("event_type", "h"), "left")
          .withColumn("is_gap", col("cnt").isNull)
          .withColumn("filled", coalesce(col("cnt"), lit(0L)))
          .withColumn("locf",
            coalesce(last(col("cnt"), ignoreNulls = true).over(locf),
              lit(-1L)))
          .select(col("event_type"), col("h").as("hour_epoch"),
            col("filled").as("cnt"), col("is_gap"), col("locf"))
          .orderBy(col("event_type"), col("hour_epoch"))
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
             |grid AS (
             |  SELECT t.event_type, CAST(g.h AS BIGINT) AS h
             |  FROM (SELECT DISTINCT event_type FROM c) t,
             |    (SELECT unnest(range(h0, h1 + 1, 3600)) AS h FROM b) g),
             |j AS (
             |  SELECT g.event_type, g.h, c.cnt FROM grid g
             |  LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h)
             |SELECT event_type, h AS hour_epoch,
             |  CAST(coalesce(cnt, 0) AS BIGINT) AS cnt,
             |  cnt IS NULL AS is_gap,
             |  CAST(coalesce(last_value(cnt IGNORE NULLS) OVER (
             |    PARTITION BY event_type ORDER BY h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
             |    AS BIGINT) AS locf
             |FROM j ORDER BY event_type, hour_epoch""".stripMargin)),

    // MARKETING ATTRIBUTION — first-touch vs last-touch: every purchase
    // credits (a) the user's FIRST preceding click and (b) the NEAREST
    // preceding click; the click's channel derives deterministically from
    // its props payload (k mod 3 -> organic/paid/social). The two models'
    // revenue splits side by side are the classic attribution report.
    // Mechanism: ONE user-partitioned window (ts, event_id total order)
    // carrying first_value/last_value IGNORE NULLS over the click-only
    // channel column — no self-join of the firehose against itself, no
    // per-purchase click scan. 100 TB shape: the window parallelizes by
    // user (bounded per-user history), then a map-side-combined
    // |models x channels|-row rollup; revenue stays exact integer cents.
    "q_event_attribution" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val ch = when(col("event_type") === "click",
          expr("""CASE CAST(get_json_object(props, '$.k') AS BIGINT) % 3
                 |  WHEN 0 THEN 'organic' WHEN 1 THEN 'paid'
                 |  ELSE 'social' END""".stripMargin))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cents = (graft.MoneyMath.dec(col("value")) * 100).cast(LongType)
        val attr = e.withColumn("ch", ch)
          .withColumn("cents", cents)
          .withColumn("first_ch", first(col("ch"), ignoreNulls = true).over(w))
          .withColumn("last_ch", last(col("ch"), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .cache()
        def roll(model: String, c: String) = attr
          .groupBy(coalesce(col(c), lit("(none)")).as("channel"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("revenue_cents"))
          .select(lit(model).as("model"), col("channel"), col("n"),
            col("revenue_cents"))
        roll("first_touch", "first_ch").union(roll("last_touch", "last_ch"))
          .orderBy(col("model"), col("channel"))
      },
      Some("""WITH base AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    CASE WHEN event_type = 'click' THEN
             |      CASE CAST(json_extract(props, '$.k') AS BIGINT) % 3
             |        WHEN 0 THEN 'organic' WHEN 1 THEN 'paid'
             |        ELSE 'social' END END AS ch
             |  FROM events),
             |attr AS (
             |  SELECT event_type, cents,
             |    first_value(ch IGNORE NULLS) OVER w AS first_ch,
             |    last_value(ch IGNORE NULLS) OVER w AS last_ch
             |  FROM base
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT 'first_touch' AS model,
             |  coalesce(first_ch, '(none)') AS channel,
             |  count(*) AS n, CAST(SUM(cents) AS BIGINT) AS revenue_cents
             |FROM attr WHERE event_type = 'purchase' GROUP BY 2
             |UNION ALL
             |SELECT 'last_touch' AS model,
             |  coalesce(last_ch, '(none)') AS channel,
             |  count(*) AS n, CAST(SUM(cents) AS BIGINT) AS revenue_cents
             |FROM attr WHERE event_type = 'purchase' GROUP BY 2
             |ORDER BY model, channel""".stripMargin)),

    // LABEL PROPAGATION (min-label variant, bounded rounds) over the
    // trade graph — the cheap community detector between per-node degree
    // stats and the full CC closure: every node starts as its own label
    // and each round adopts the minimum label in its closed neighborhood.
    // After k rounds a node's label is the smallest node id within
    // distance k, so the community count per round IS the convergence
    // curve (how fast the graph collapses toward its components — a
    // diameter read the one-shot CC answer hides). Rounds are truncated
    // at 4 like the other iterative walks (a fixpoint test would be
    // engine-divergent). 100 TB shape: per round ONE edge-keyed join +
    // min-combine (map-side), the node's own label riding the message
    // stream as a self-message union branch — one exchange per round, no
    // node-sized join back; the edge table is hash-laid by src once
    // (shared trade-graph artifact) and the label table is node-sized,
    // with deferred lineage cuts so each round is one job.
    "graph_label_propagation" -> QueryDef(
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val rounds = 4
        val g = tradeGraph(s, dir, withDegrees = false)
        val edges = g.edgeDeg
        var lbl = g.nodes.select(col("node"), col("node").as("lbl"))
        // ONE job for all four rounds: each round's label table is a
        // deferred lineage cut (LogicalRDD immediately, blocks on first
        // touch) and its convergence stats stay IN-PLAN as a 1-row
        // aggregate — the union of the four stat rows is forced by a
        // single eager cut inside the partition pin, so round r's blocks
        // materialize once and are shared by round r+1's join AND round
        // r's stat branch (same RDD → shared stages; no per-round collect
        // paying a scheduling floor each).
        val stats = (1 to rounds).map { r =>
          // closed-neighborhood min as ONE aggregation: the node's own
          // label rides the message stream as a self-message (node-sized
          // union branch), so the round is join + min-combine — no
          // node-sized left join back. Column order in both branches is
          // (node, lbl) — the positional-union contract.
          val msgs = edges.join(lbl, col("node") === col("src"))
            .select(col("dst").as("node"), col("lbl"))
          lbl = graft.operators.IterBarrier.cutDeferred(
            msgs.union(lbl).groupBy(col("node"))
              .agg(min(col("lbl")).as("lbl")),
            r, reliableEvery = 0)
          lbl.agg(countDistinct(col("lbl")).as("n_communities"),
              sum(col("lbl")).as("label_sum"))
            .select(lit(r.toLong).as("round"), col("n_communities"),
              col("label_sum"))
        }
        graft.operators.IterBarrier.cut(stats.reduce(_.union(_)), 1,
          reliableEvery = 0).orderBy(col("round"))
      },
      Some {
        def round(r: Int): String =
          s"""l$r AS MATERIALIZED (
             |  SELECT n.node,
             |    least(n.lbl, coalesce(m.ml, n.lbl)) AS lbl
             |  FROM l${r - 1} n LEFT JOIN (
             |    SELECT e.dst AS node, MIN(l.lbl) AS ml
             |    FROM e JOIN l${r - 1} l ON l.node = e.src
             |    GROUP BY e.dst) m USING (node))""".stripMargin
        def stat(r: Int): String =
          s"""  SELECT CAST($r AS BIGINT) AS round,
             |    CAST(count(DISTINCT lbl) AS BIGINT) AS n_communities,
             |    CAST(SUM(lbl) AS BIGINT) AS label_sum FROM l$r""".stripMargin
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |e AS MATERIALIZED (
           |  SELECT c AS src, p AS dst FROM pairs
           |  UNION ALL
           |  SELECT p AS src, c AS dst FROM pairs),
           |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
           |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT round, n_communities, label_sum FROM (
           |${(1 to 4).map(stat).mkString("\n  UNION ALL\n")}
           |) ORDER BY round""".stripMargin
      }),

    // BIPARTITE (α,β)-CORE PEEL of the trade graph (Ahmed et al. / the
    // standard two-sided generalization of k-core for bipartite graphs —
    // a single k cannot straddle two degree regimes, here ~39 customer vs
    // ~590 supplier): repeatedly delete customers with < α supplier
    // partners and suppliers with < β customer partners until only the
    // mutually-supporting core remains. Thresholds derive from the data
    // (exact integer ceil — no float boundary): α = ⌈mean customer
    // degree⌉, β = ⌈0.6·mean supplier degree⌉, the "above-average
    // connectivity against a forgiving partner floor" screen; on this
    // corpus the peel is a genuine cascade (removing sub-α customers
    // drags suppliers below β, which drags more customers below α) that
    // dissolves the whole graph by round 4 — the peel curve IS the
    // finding: no self-sustaining elite trade core exists. Per round:
    // one map-side-combined degree count over the current edge set, then
    // the edge set semi-joins down to survivors on each endpoint; rounds
    // are truncated at 4 (the oracle unrolls the same 4 — a fixpoint
    // marker would be engine-divergent); each round's edge set is
    // lineage-cut like the other iterative walks. 100 TB shape: the edge
    // table is the only corpus-scale object (read from the shared
    // trade-graph artifact, hash-laid by src) and it is IMMUTABLE — the
    // peel never materializes a shrunken edge set; the survivor sets
    // that semi-join against it are nodes-sized, never edge-sized; the
    // three threshold scalars are one aggregate row over the pair
    // artifact.
    "graph_abcore" -> QueryDef(
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val rounds = 4
        val g = tradeGraph(s, dir, withDegrees = false)
        // ALIVE-SET iteration (round-9 form): survivor sets shrink
        // monotonically (a node in a_r had a qualifying degree inside
        // e_{r-1}, so a_r ⊆ nodes(e_{r-1}) ⊆ a_{r-1}), which makes the
        // round-r edge set e_0 ∩ (a_r × a_r) — the peel can iterate the
        // NODE-SIZED degree table alone against the immutable edge
        // artifact instead of cutting and re-materializing an |E|-sized
        // edge set every round (4 edge-block writes saved; at corpus
        // scale, materializing e_1 of a 100 TB graph is the whole cost).
        // Per round: two semi-joins against the node-sized alive filter
        // (AQE broadcasts them here; a billions-node alive set may fall
        // back to shuffled semi-joins at cluster scale) feeding a degree
        // count that combines map-side on the artifact's src layout, and
        // the round's survivor stats stay IN-PLAN as a 1-row aggregate
        // over the cached degree table — n_alive = |deg| (distinct src
        // by construction), n_dir_edges = Σdg. The union of the four
        // stat rows is forced by a single eager cut inside the partition
        // pin, so round r's degree blocks are computed once and shared
        // by the stat branch AND round r+1's alive filter.
        val edges = g.edgeDeg
        var deg = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
          .cache()
        // α/β derive from the ROUND-0 degree table instead of a separate
        // pairs aggregate: in the doubled edge set every endpoint occurs
        // as a src, so nc/ns are the even/odd src counts and |pairs| is
        // Σdg / 2 — the threshold scalars ride the job that builds round
        // 0's degrees rather than paying their own.
        val st = deg.agg(
          coalesce(sum(col("dg")), lit(0L)).as("e2"),
          sum(when(pmod(col("src"), lit(2)) === 0, 1L).otherwise(0L))
            .as("nc"),
          sum(when(pmod(col("src"), lit(2)) === 1, 1L).otherwise(0L))
            .as("ns")).collect()(0)
        val (e0, nc, ns) = (st.getLong(0) / 2, st.getLong(1), st.getLong(2))
        val alpha = (e0 + nc - 1) / nc
        val beta = (3 * e0 + 5 * ns - 1) / (5 * ns)
        val thr = when(pmod(col("src"), lit(2)) === 0, lit(alpha))
          .otherwise(lit(beta))
        val stats = (1 to rounds).map { r =>
          val alive = deg.filter(col("dg") >= thr)
          deg = edges
            .join(alive.select(col("src")), Seq("src"), "left_semi")
            .join(alive.select(col("src").as("dst")), Seq("dst"),
              "left_semi")
            .groupBy(col("src")).agg(count(lit(1)).as("dg")).cache()
          deg.agg(count(lit(1)).as("n_alive"),
              coalesce(sum(col("dg")), lit(0L)).as("n_dir_edges"))
            .select(lit(r.toLong).as("round"), col("n_alive"),
              col("n_dir_edges"))
        }
        graft.operators.IterBarrier.cut(stats.reduce(_.union(_)), 1,
          reliableEvery = 0).orderBy(col("round"))
      },
      Some {
        def round(r: Int): String =
          s"""a$r AS MATERIALIZED (
             |  SELECT e.src AS node FROM e${r - 1} e, thr t
             |  GROUP BY e.src, t.alpha, t.beta
             |  HAVING count(*) >= CASE WHEN e.src % 2 = 0
             |    THEN t.alpha ELSE t.beta END),
             |e$r AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN a$r sa ON e.src = sa.node
             |  JOIN a$r sb ON e.dst = sb.node)""".stripMargin
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |thr AS MATERIALIZED (
           |  SELECT (count(*) + count(DISTINCT c) - 1)
           |           // count(DISTINCT c) AS alpha,
           |         (3 * count(*) + 5 * count(DISTINCT p) - 1)
           |           // (5 * count(DISTINCT p)) AS beta
           |  FROM pairs),
           |e0 AS MATERIALIZED (
           |  SELECT c AS src, p AS dst FROM pairs
           |  UNION ALL
           |  SELECT p AS src, c AS dst FROM pairs),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT round, n_alive, n_dir_edges FROM (
           |${(1 to 4).map(r =>
              s"""  SELECT CAST($r AS BIGINT) AS round,
                 |    (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e$r)
                 |      AS n_alive,
                 |    (SELECT CAST(count(*) AS BIGINT) FROM e$r)
                 |      AS n_dir_edges""".stripMargin)
             .mkString("\n  UNION ALL\n")}
           |) ORDER BY round""".stripMargin
      }),

    // HITS (Kleinberg hubs/authorities) on the DIRECTED bipartite trade
    // graph — customers are hubs (they point at suppliers), suppliers
    // are authorities; the doubled symmetric edge set the other walks
    // use would make the two scores degenerate, so this query is the one
    // consumer of the RAW pair direction. Two unnormalized rounds with
    // h₀ = 1: a₁ = indegree, h₁ = Σ a₁ over partners, a₂/h₂ likewise —
    // exact BIGINT throughout (score growth is bounded by
    // max_deg_c²·max_deg_p² ≈ 10¹² here; at corpus scales that overflow
    // int64 the round update takes DECIMAL(38,0) sums or a per-round
    // integer re-scale, same update shape). Per round the only exchange
    // is one pair-keyed join + a node-sized map-side-combined sum; the
    // report is two top-8 TakeOrdereds over node-sized score tables.
    "graph_hits" -> QueryDef(
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val pairs = tradePairs(s, dir).cache()
        val a1 = pairs.groupBy(col("p")).agg(count(lit(1)).as("a"))
        val h1 = pairs.join(a1, "p").groupBy(col("c"))
          .agg(sum(col("a")).as("h"))
        val a2 = pairs.join(h1, "c").groupBy(col("p"))
          .agg(sum(col("h")).as("a"))
        val h2 = pairs.join(a2, "p").groupBy(col("c"))
          .agg(sum(col("a")).as("h"))
        def top(df: DataFrame, node: String, score: String, role: String) =
          df.orderBy(col(score).desc, col(node))
            .limit(8)
            .select(lit(role).as("role"),
              row_number().over(Window.orderBy(col(score).desc, col(node)))
                .cast(LongType).as("rank"),
              col(node).as("node"), col(score).as("score"))
        graft.operators.IterBarrier.cut(
          top(h2, "c", "h", "hub").union(top(a2, "p", "a", "authority")),
          1, reliableEvery = 0).orderBy(col("role"), col("rank"))
      },
      Some("""WITH pairs AS MATERIALIZED (
             |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |a1 AS MATERIALIZED (
             |  SELECT p, count(*) AS a FROM pairs GROUP BY p),
             |h1 AS MATERIALIZED (
             |  SELECT c, CAST(SUM(a) AS BIGINT) AS h
             |  FROM pairs JOIN a1 USING (p) GROUP BY c),
             |a2 AS MATERIALIZED (
             |  SELECT p, CAST(SUM(h) AS BIGINT) AS a
             |  FROM pairs JOIN h1 USING (c) GROUP BY p),
             |h2 AS MATERIALIZED (
             |  SELECT c, CAST(SUM(a) AS BIGINT) AS h
             |  FROM pairs JOIN a2 USING (p) GROUP BY c)
             |SELECT role, rank, node, score FROM (
             |  SELECT 'hub' AS role,
             |    CAST(row_number() OVER (ORDER BY h DESC, c) AS BIGINT)
             |      AS rank,
             |    c AS node, h AS score
             |  FROM h2 ORDER BY h DESC, c LIMIT 8)
             |UNION ALL
             |SELECT role, rank, node, score FROM (
             |  SELECT 'authority' AS role,
             |    CAST(row_number() OVER (ORDER BY a DESC, p) AS BIGINT)
             |      AS rank,
             |    p AS node, a AS score
             |  FROM a2 ORDER BY a DESC, p LIMIT 8)
             |ORDER BY role, rank""".stripMargin)),

    // CORENESS BY H-INDEX ITERATION (Lü et al., "The H-index of a
    // network node": iterating c₀ = degree, c_{t+1}(v) = h-index of
    // {c_t(u) : u ∈ N(v)} converges to the node's CORE NUMBER) — the
    // full k-core decomposition read that the (α,β) peel's fixed
    // thresholds cannot give, bounded to two iterations like the other
    // truncated walks (the oracle unrolls the same two; a fixpoint test
    // would be engine-divergent). The h-index is computed IN-PLAN as a
    // HISTOGRAM SELECTION, never a per-neighbor ranking: with
    // F(v) = #{u ∈ N(x) : c_t(u) ≥ v}, the identity
    // h = max over distinct neighbor values v of min(v, F(v)) holds
    // (v ≤ h ⇒ min ≤ h; v > h ⇒ F(v) < h+1 ⇒ min ≤ h; and the
    // smallest distinct value v* ≥ h attains min(v*, F(v*)) ≥ h). So
    // per round the exchange is one edge-keyed join feeding a
    // map-side-combined groupBy(node, value) — a power-law hub's
    // neighbor fan-in collapses to its DISTINCT-VALUE histogram before
    // any shuffle — then a cumsum window over the histogram rows (≤
    // #distinct values per node, bounded by the max core number, NOT by
    // degree) and one max. No task ever holds a full neighbor list; the
    // report is a coreness histogram, never a node-sized sort.
    "graph_coreness_hindex" -> QueryDef(
      (s, dir) => graft.QueryUtil.withShufflePartitions(s, 8) {
        val g = tradeGraph(s, dir, withDegrees = false)
        val edges = g.edgeDeg
        var core = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).cast(LongType).as("c"))
        for (r <- 1 to 2) {
          core = graft.operators.IterBarrier.cutDeferred(
            hIndexRound(edges, core), r, reliableEvery = 0)
        }
        graft.operators.IterBarrier.cut(
          core.groupBy(col("c").as("coreness"))
            .agg(count(lit(1)).as("n_nodes")),
          1, reliableEvery = 0).orderBy(col("coreness"))
      },
      Some {
        def round(r: Int): String =
          s"""c$r AS MATERIALIZED (
             |  SELECT src AS node,
             |    CAST(coalesce(max(least(cu, f)), 0) AS BIGINT) AS c
             |  FROM (
             |    SELECT src, cu, CAST(SUM(cnt) OVER (
             |        PARTITION BY src ORDER BY cu DESC) AS BIGINT) AS f
             |    FROM (
             |      SELECT e.src, p.c AS cu, count(*) AS cnt
             |      FROM e JOIN c${r - 1} p ON p.node = e.dst
             |      GROUP BY e.src, p.c))
             |  GROUP BY src)""".stripMargin
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |e AS MATERIALIZED (
           |  SELECT c AS src, p AS dst FROM pairs
           |  UNION ALL
           |  SELECT p AS src, c AS dst FROM pairs),
           |c0 AS MATERIALIZED (
           |  SELECT src AS node, CAST(count(*) AS BIGINT) AS c
           |  FROM e GROUP BY src),
           |${(1 to 2).map(round).mkString(",\n")}
           |SELECT c AS coreness, count(*) AS n_nodes
           |FROM c2 GROUP BY c ORDER BY coreness""".stripMargin
      }),

    // FREQUENT BEHAVIORAL TRIGRAMS — sequential-pattern mining one order
    // above q_event_transitions' Markov bigrams: the top event-type
    // trigrams by USER SUPPORT (distinct users whose timeline contains
    // the pattern consecutively), the discovery pass behind funnel
    // design ("which 3-step paths actually happen?"). Support counting
    // dedups in-user first, so a bot looping one path counts once.
    // Scale shape: ONE shuffle on user_id (the lag window parallelizes
    // user-ways over bounded per-user history), the (user, trigram)
    // dedup and the support count both map-side combine, top-15 is a
    // TakeOrdered — the firehose is never globally sorted.
    "q_event_trigrams" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts").cast(LongType).as("tse"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("tse"), col("event_id"))
        val tri = e
          .withColumn("t1", lag(col("event_type"), 2).over(byUser))
          .withColumn("t2", lag(col("event_type"), 1).over(byUser))
          .filter(col("t1").isNotNull)
          .select(col("user_id"), col("t1"), col("t2"),
            col("event_type").as("t3"))
        tri.groupBy(col("t1"), col("t2"), col("t3"))
          .agg(countDistinct(col("user_id")).as("support_users"),
            count(lit(1)).as("n_occurrences"))
          .orderBy(col("support_users").desc, col("n_occurrences").desc,
            col("t1"), col("t2"), col("t3"))
          .limit(15)
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type AS t3,
             |    lag(event_type, 2) OVER w AS t1,
             |    lag(event_type, 1) OVER w AS t2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id))
             |SELECT t1, t2, t3,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS support_users,
             |  COUNT(*) AS n_occurrences
             |FROM seq WHERE t1 IS NOT NULL
             |GROUP BY t1, t2, t3
             |ORDER BY support_users DESC, n_occurrences DESC, t1, t2, t3
             |LIMIT 15""".stripMargin)),

    // HOURLY TREND SLOPE — per event type, the least-squares slope of the
    // gap-densified hourly count series against the hour index (events/
    // hour per hour: is traffic growing, and how fast?) plus the signed
    // r² fit quality — the capacity-planning / drift-alarm read next to
    // CUSUM's changepoint view. Same exact-moment device as
    // q_event_autocorr: integer sums, DECIMAL(38,0) products, each
    // reported stat ONE double division of exact quantities, round(6).
    // The raw scan collapses to a map-side-combined (type, hour) count;
    // the dense (type, x, y) table is hours-bounded; the moment rollup
    // is ≤|types| rows.
    "q_event_trend_slope" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ts AS BIGINT) div 3600").as("h"))
        val c = e.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("cnt"))
        val grid = c.groupBy(col("event_type"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("event_type"), col("h0"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        val dense = grid.join(c, Seq("event_type", "h"), "left")
          .select(col("event_type"), (col("h") - col("h0")).as("x"),
            coalesce(col("cnt"), lit(0L)).as("y"))
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val m = dense.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(dec(col("x")) * dec(col("y"))).as("sxy"),
            sum(dec(col("x")) * dec(col("x"))).as("sx2"),
            sum(dec(col("y")) * dec(col("y"))).as("sy2"))
        m.select(col("event_type"), col("n").as("n_hours"),
            (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
              .as("num"),
            (dec(col("n")) * col("sx2") - dec(col("sx")) * dec(col("sx")))
              .cast(DoubleType).as("dx"),
            (dec(col("n")) * col("sy2") - dec(col("sy")) * dec(col("sy")))
              .cast(DoubleType).as("dy"))
          .select(col("event_type"), col("n_hours"),
            when(col("dx") === 0d, lit(0d))
              .otherwise(org.apache.spark.sql.functions.round(
                col("num").cast(DoubleType) / col("dx"), 6))
              .as("slope_per_hour"),
            when(col("dx") === 0d || col("dy") === 0d, lit(0d))
              .otherwise(org.apache.spark.sql.functions.round(
                col("num").cast(DoubleType) *
                  abs(col("num").cast(DoubleType)) /
                  (col("dx") * col("dy")), 6)).as("r2_signed"))
          .orderBy(col("event_type"))
      },
      Some("""WITH c AS MATERIALIZED (
             |  SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |grid AS (
             |  SELECT event_type, min(h) AS h0,
             |    unnest(range(min(h), max(h) + 1)) AS h
             |  FROM c GROUP BY event_type),
             |dense AS (
             |  SELECT g.event_type, g.h - g.h0 AS x,
             |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS y
             |  FROM grid g LEFT JOIN c ON g.event_type = c.event_type
             |    AND g.h = c.h),
             |m AS (
             |  SELECT event_type, count(*) AS n,
             |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sx2,
             |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2
             |  FROM dense GROUP BY 1),
             |r AS (
             |  SELECT event_type, n, n * sxy - sx * sy AS num,
             |    CAST(n * sx2 - sx * sx AS DOUBLE) AS dx,
             |    CAST(n * sy2 - sy * sy AS DOUBLE) AS dy
             |  FROM m)
             |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
             |  CASE WHEN dx = 0 THEN 0.0
             |    ELSE round(CAST(num AS DOUBLE) / dx, 6) END
             |    AS slope_per_hour,
             |  CASE WHEN dx = 0 OR dy = 0 THEN 0.0
             |    ELSE round(CAST(num AS DOUBLE) * abs(CAST(num AS DOUBLE))
             |      / (dx * dy), 6) END AS r2_signed
             |FROM r ORDER BY event_type""".stripMargin)),

    // RFM SEGMENTATION — the classic customer-value grid: per user the
    // Recency (hours since last purchase, against the corpus max),
    // Frequency (purchase count) and Monetary (whole-dollar spend), each
    // scored 1..5 by EXACT quintiles of its distribution, reported as
    // the (r,f,m) segment census. All three metrics collapse to ONE
    // bounded value histogram (hours are wall-clock-bounded, counts and
    // dollars domain-bounded — the MAD-outliers license) keyed by
    // (metric, value), so the CDF and per-metric totals are windows over
    // a bounded table and the twelve boundary scalars come from ONE
    // aggregate row broadcast onto a pure-map scorer. The firehose pays
    // a single per-user aggregate; nothing user-sized is globally
    // sorted.
    "q_rfm_segments" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").cast(LongType).as("tse"),
            (graft.MoneyMath.dec(col("value")) * 100).cast(LongType)
              .as("cents"))
        val mx = e.agg(max(col("tse")).as("mxts"))
        // EAGER cut, not a lazy cache: three quintile derivations (each
        // an eager prefix-sum) plus the scorer all consume pu — lazy
        // branches would race the cold cache and re-aggregate the
        // firehose per consumer (the PRF lesson)
        val pu = graft.operators.IterBarrier.cut(
          e.crossJoin(broadcast(mx))
            .groupBy(col("user_id"))
            .agg(expr("(max(mxts) - max(tse)) div 3600").as("r"),
              count(lit(1)).as("f"),
              expr("sum(cents) div 100").as("m")), 1, reliableEvery = 0)
        // All three quintile derivations ride ONE bounded histogram: the
        // per-user table unpivots to (metric, v) — a pure map, 3 rows per
        // user — and each metric's value histogram is partition-local to
        // its metric key, so the CDF and the per-metric total are plain
        // windows over a BOUNDED table (hours wall-clock-bounded, counts
        // and dollars domain-bounded — never user-sized). The twelve
        // boundary scalars then come from a single global aggregate of
        // conditional mins, broadcast onto the scorer: two jobs total
        // where three eager prefix-sum passes used to pay six.
        val hist = pu
          .selectExpr("stack(3, 'r', r, 'f', f, 'm', m) AS (metric, v)")
          .groupBy(col("metric"), col("v")).agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy(col("metric")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = hist
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("n",
            sum(col("cnt")).over(Window.partitionBy(col("metric"))))
        val bCols = for (m <- Seq("r", "f", "m"); i <- 1 to 4) yield
          min(when(col("metric") === m &&
              col("cum") >= expr(s"($i * n + 4) div 5"), col("v")))
            .as(s"${m}_b$i")
        val bnds = cdf.agg(bCols.head, bCols.tail: _*)
        def score(metric: String) =
          lit(1L) + (col(metric) > col(s"${metric}_b1")).cast(LongType) +
            (col(metric) > col(s"${metric}_b2")).cast(LongType) +
            (col(metric) > col(s"${metric}_b3")).cast(LongType) +
            (col(metric) > col(s"${metric}_b4")).cast(LongType)
        pu.crossJoin(broadcast(bnds))
          .select(score("r").as("r_score"), score("f").as("f_score"),
            score("m").as("m_score"))
          .groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("r_score"), col("f_score"), col("m_score"))
      },
      Some {
        def boundsCte(metric: String) =
          s"""${metric}hist AS (
             |  SELECT $metric AS v, count(*) AS cnt FROM pu GROUP BY 1),
             |${metric}cdf AS (
             |  SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum
             |  FROM ${metric}hist),
             |${metric}b AS (
             |  SELECT
             |${(1 to 4).map(i =>
                s"    min(CASE WHEN cum >= ($i * n.n + 4) // 5 THEN v END)" +
                  s" AS b$i").mkString(",\n")}
             |  FROM ${metric}cdf, n)""".stripMargin
        def score(metric: String) =
          s"1 + CAST($metric > ${metric}b.b1 AS BIGINT)" +
            s" + CAST($metric > ${metric}b.b2 AS BIGINT)" +
            s" + CAST($metric > ${metric}b.b3 AS BIGINT)" +
            s" + CAST($metric > ${metric}b.b4 AS BIGINT)"
        s"""WITH p AS (
           |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tse,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase'),
           |mx AS (SELECT max(tse) AS mxts FROM p),
           |pu AS MATERIALIZED (
           |  SELECT user_id,
           |    (max(mx.mxts) - max(tse)) // 3600 AS r,
           |    count(*) AS f,
           |    CAST(SUM(cents) AS BIGINT) // 100 AS m
           |  FROM p, mx GROUP BY user_id),
           |n AS (SELECT count(*) AS n FROM pu),
           |${boundsCte("r")},
           |${boundsCte("f")},
           |${boundsCte("m")}
           |SELECT ${score("r")} AS r_score, ${score("f")} AS f_score,
           |  ${score("m")} AS m_score, count(*) AS n_users
           |FROM pu, rb, fb, mb
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
      }),

    // CONVERSION LATENCY — per user, the time from FIRST click to the
    // FIRST purchase AT-OR-AFTER that click (a purchase predating the
    // click does not count, but a later re-purchase does), rolled into an
    // exponential histogram (<1 m, <1 h, <1 d, ≥1 d buckets) with
    // converted/unconverted totals: the product-analytics read behind
    // attribution windows and retargeting delays. The conditional min
    // needs first_click before it can filter purchases, so it is a
    // per-user window min (one shuffle on user_id) followed by a groupBy
    // on the SAME key — the aggregate reuses the window's hash
    // partitioning, so the firehose still shuffles once; the histogram
    // is a ≤5-row rollup.
    "q_conversion_latency" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            col("ts").cast(LongType).as("tse"))
        val uw = Window.partitionBy(col("user_id"))
        val perUser = e
          .withColumn("first_click",
            min(when(col("event_type") === "click", col("tse"))).over(uw))
          .filter(col("first_click").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            min(col("first_click")).as("first_click"),
            min(when(col("event_type") === "purchase" &&
                col("tse") >= col("first_click"), col("tse")))
              .as("conv_purchase"))
        val lat = perUser.select(col("user_id"),
            (col("conv_purchase") - col("first_click")).as("lat_s"))
        lat.select(
            when(col("lat_s").isNull, "no_conversion")
              .when(col("lat_s") < 60, "lt_1m")
              .when(col("lat_s") < 3600, "lt_1h")
              .when(col("lat_s") < 86400, "lt_1d")
              .otherwise("ge_1d").as("bucket"),
            col("lat_s"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_users"),
            coalesce(sum(col("lat_s")), lit(0L)).as("sum_latency_s"))
          .orderBy(col("bucket"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS tse
             |  FROM events),
             |fc AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'click' THEN tse END)
             |      AS first_click
             |  FROM e GROUP BY user_id),
             |lat AS (
             |  SELECT f.user_id,
             |    MIN(CASE WHEN e.event_type = 'purchase'
             |          AND e.tse >= f.first_click THEN e.tse END)
             |      - f.first_click AS lat_s
             |  FROM fc f JOIN e ON e.user_id = f.user_id
             |  WHERE f.first_click IS NOT NULL
             |  GROUP BY f.user_id, f.first_click)
             |SELECT CASE
             |    WHEN lat_s IS NULL THEN 'no_conversion'
             |    WHEN lat_s < 60 THEN 'lt_1m'
             |    WHEN lat_s < 3600 THEN 'lt_1h'
             |    WHEN lat_s < 86400 THEN 'lt_1d'
             |    ELSE 'ge_1d' END AS bucket,
             |  count(*) AS n_users,
             |  CAST(coalesce(SUM(lat_s), 0) AS BIGINT) AS sum_latency_s
             |FROM lat GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // USER-ACTIVITY GINI COEFFICIENT — inequality of the per-user event
    // distribution, the one-number bot/power-user concentration read
    // (G→0 uniform engagement, G→1 a few accounts generate everything).
    // Exact rational form with ties: over the ascending per-user counts
    // x_(1..n), G = (2·Σ i·x_(i) − (n+1)·S) / (n·S); tie groups
    // contribute x·(m·R + m(m+1)/2) from the COUNT-OF-COUNTS histogram
    // (R = users before the group), so nothing user-sized is ever
    // sorted: the firehose collapses to per-user counts (one shuffle),
    // those collapse to the bounded distinct-count histogram, and the
    // rank prefix rides the SequencePacking distributed prefix-sum.
    // One integral division at the end — cross-engine exact.
    "q_user_gini" -> QueryDef(
      (s, dir) => {
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
        val hist = perUser.groupBy(col("x")).agg(count(lit(1)).as("m"))
        val cum = graft.operators.SequencePacking.runningSum(
          hist, "x", "m", "cumu")
        // the in-group rank sum m(m+1)/2 halves EXACTLY as a long (m(m+1)
        // is even); decimal `/` would switch to engine-specific scale
        // rules and DuckDB HUGEINT `/` is float division — both avoided
        val terms = cum
          .withColumn("h", expr("(m * (m + 1)) div 2"))
          .select(
            (dec(col("x")) * (dec(col("m")) * dec(col("cumu") - col("m"))
              + dec(col("h")))).as("t"),
            (dec(col("x")) * dec(col("m"))).as("sx"), dec(col("m")).as("mn"))
        terms.agg(sum(col("t")).as("a"), sum(col("sx")).as("s"),
            sum(col("mn")).as("n"))
          .selectExpr("CAST(n AS BIGINT) AS n_users",
            "CAST(s AS BIGINT) AS total_events",
            "CAST(((2 * a - (n + 1) * s) * 1000000) div (n * s) AS BIGINT)" +
              " AS gini_ppm")
      },
      Some("""WITH pu AS (
             |  SELECT user_id, count(*) AS x FROM events GROUP BY 1),
             |hist AS (SELECT x, count(*) AS m FROM pu GROUP BY x),
             |cum AS (
             |  SELECT x, m,
             |    SUM(m) OVER (ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cumu
             |  FROM hist),
             |terms AS (
             |  SELECT
             |    CAST(x AS HUGEINT) * (CAST(m AS HUGEINT) * (cumu - m)
             |      + (CAST(m AS HUGEINT) * (m + 1)) // 2) AS t,
             |    CAST(x AS HUGEINT) * m AS sx,
             |    CAST(m AS HUGEINT) AS mn
             |  FROM cum),
             |agg AS (
             |  SELECT SUM(t) AS a, SUM(sx) AS s, SUM(mn) AS n FROM terms)
             |SELECT CAST(n AS BIGINT) AS n_users,
             |  CAST(s AS BIGINT) AS total_events,
             |  CAST(((2 * a - (n + 1) * s) * 1000000) // (n * s) AS BIGINT)
             |    AS gini_ppm
             |FROM agg""".stripMargin)),

    // HOUR-OF-DAY TRAFFIC PROFILE — the seasonal SHAPE companion to
    // q_event_autocorr's lag view: per event type, the 24-bucket
    // hour-of-day distribution in exact ppm shares plus each bucket's
    // deviation from the uniform 1/24 (the "rush-hour fingerprint" that
    // calibrates per-hour alert thresholds and informs crawl/ingest
    // scheduling). Scale shape: ONE map-side-combined (type, hod)
    // aggregate over the firehose; per-type totals are a ≤|types|-row
    // aggregate joined back (broadcast-sized); everything downstream is
    // |types|·24 rows.
    "q_event_hour_profile" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr("(CAST(ts AS BIGINT) div 3600) % 24").as("hod"))
        val c = e.groupBy(col("event_type"), col("hod"))
          .agg(count(lit(1)).as("n"))
        val tot = c.groupBy(col("event_type")).agg(sum(col("n")).as("t"))
        c.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("hod"), col("n"),
            expr("(n * 1000000) div t").as("share_ppm"))
          .withColumn("dev_ppm",
            col("share_ppm") - lit(1000000L / 24))
          .orderBy(col("event_type"), col("hod"))
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hod,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
             |        FROM c GROUP BY 1)
             |SELECT c.event_type, CAST(hod AS BIGINT) AS hod,
             |  CAST(n AS BIGINT) AS n,
             |  CAST((n * 1000000) // t AS BIGINT) AS share_ppm,
             |  CAST((n * 1000000) // t - 41666 AS BIGINT) AS dev_ppm
             |FROM c JOIN tot USING (event_type)
             |ORDER BY event_type, hod""".stripMargin)),

    // DEGREE ASSORTATIVITY of the trade graph — the signed r² of
    // (deg(src), deg(dst)) over all directed edges: do high-degree
    // customers trade with high-degree suppliers (assortative, r > 0) or
    // with the long tail (disassortative, r < 0)? The one-number mixing
    // diagnostic read before trusting degree-based sampling or hub
    // removal. Same exact-moment device as q_event_autocorr: integer
    // sums and DECIMAL(38,0) products, one cast-to-double ratio,
    // round(6) (envelope: |num| < 10^19, documented there). Scale shape:
    // degrees are ONE map-side-combined aggregate over the edge artifact
    // joined back onto it (node-sized build sides), then a 1-row moment
    // aggregate — the edge table is scanned twice, shuffled once.
    "graph_degree_assortativity" -> QueryDef(
      (s, dir) => {
        val g = tradeGraph(s, dir, withDegrees = false)
        val deg = g.edgeDeg.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val m = g.edgeDeg
          .join(deg.select(col("src"), col("dg").as("x")), "src")
          .join(deg.select(col("src").as("dst"), col("dg").as("y")), "dst")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(dec(col("x")) * dec(col("y"))).as("sxy"),
            sum(dec(col("x")) * dec(col("x"))).as("sx2"),
            sum(dec(col("y")) * dec(col("y"))).as("sy2"))
        m.select(col("n").as("n_dir_edges"),
            (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
              .as("num"),
            (dec(col("n")) * col("sx2") - dec(col("sx")) * dec(col("sx")))
              .cast(DoubleType).as("dx"),
            (dec(col("n")) * col("sy2") - dec(col("sy")) * dec(col("sy")))
              .cast(DoubleType).as("dy"))
          .select(col("n_dir_edges"),
            when(col("dx") === 0d || col("dy") === 0d, lit(0d))
              .otherwise(org.apache.spark.sql.functions.round(
                col("num").cast(DoubleType) *
                  abs(col("num").cast(DoubleType)) /
                  (col("dx") * col("dy")), 6)).as("r2_signed"))
      },
      Some("""WITH pairs AS MATERIALIZED (
             |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e AS MATERIALIZED (
             |  SELECT c AS src, p AS dst FROM pairs
             |  UNION ALL
             |  SELECT p AS src, c AS dst FROM pairs),
             |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src),
             |m AS (
             |  SELECT count(*) AS n,
             |    SUM(CAST(dx.dg AS HUGEINT)) AS sx,
             |    SUM(CAST(dy.dg AS HUGEINT)) AS sy,
             |    SUM(CAST(dx.dg AS HUGEINT) * CAST(dy.dg AS HUGEINT)) AS sxy,
             |    SUM(CAST(dx.dg AS HUGEINT) * CAST(dx.dg AS HUGEINT)) AS sx2,
             |    SUM(CAST(dy.dg AS HUGEINT) * CAST(dy.dg AS HUGEINT)) AS sy2
             |  FROM e
             |  JOIN deg dx ON dx.src = e.src
             |  JOIN deg dy ON dy.src = e.dst),
             |r AS (
             |  SELECT n, n * sxy - sx * sy AS num,
             |    CAST(n * sx2 - sx * sx AS DOUBLE) AS dx,
             |    CAST(n * sy2 - sy * sy AS DOUBLE) AS dy
             |  FROM m)
             |SELECT CAST(n AS BIGINT) AS n_dir_edges,
             |  CASE WHEN dx = 0 OR dy = 0 THEN 0.0
             |    ELSE round(CAST(num AS DOUBLE) * abs(CAST(num AS DOUBLE))
             |      / (dx * dy), 6) END AS r2_signed
             |FROM r""".stripMargin)),

    // COMMON-NEIGHBOR / JACCARD LINK PREDICTION over the bipartite trade
    // graph: the top supplier pairs by customer-set Jaccard — "suppliers
    // serving the same customer base", the score behind substitute-vendor
    // detection and co-purchase recommendation. Classic two-hop shape:
    // enumerate wedges s1←c→s2 from each customer's (df-capped) supplier
    // list and count per (s1, s2). The cap excludes customers with > 64
    // suppliers from BOTH the intersection and the degree counts (the
    // dedup_ngram_jaccard_capped license: hub customers contribute O(d²)
    // wedges and near-zero signal, and the exclusion is part of the
    // operator's definition, shared with the oracle) — so per-customer
    // fan-out is ≤ 64², the wedge table is Σd² bounded, and no corpus²
    // product exists anywhere. Jaccard is exact integer ppm:
    // common·10⁶ div (d1+d2−common). One shuffle for the wedge
    // aggregate; degrees are supplier-sized aggregates joined back (AQE
    // broadcasts them at this scale; no hint — a billions-supplier
    // catalog must fall back to shuffled joins).
    "graph_common_neighbors" -> QueryDef(
      (s, dir) => {
        val pairs = tradePairs(s, dir)
          .select(expr("c div 2").as("c"), expr("(p - 1) div 2").as("p"))
        val smallCust = pairs.groupBy(col("c"))
          .agg(count(lit(1)).as("cd")).filter(col("cd") <= 64)
          .select(col("c"))
        // cached AND explicitly spread by customer: consumed THREE times
        // (degree pass + both wedge sides), and without the repartition
        // AQE coalesces the tiny cached table to ONE partition — the
        // self-join then probes all Σd² wedges on a single core
        // (measured 3× slower at sf0.1)
        val kept = pairs.join(smallCust, Seq("c"), "left_semi")
          .repartition(col("c")).cache()
        val sdeg = kept.groupBy(col("p")).agg(count(lit(1)).as("dg"))
        // the Σd²-bounded wedge stream is the dominant shuffle — pack the
        // ordered pair into ONE long (valid while supplier keys < 2^31;
        // at a wider keyspace switch to the two-column key) so 11M rows
        // ride a single 8-byte key into the map-side-combined count
        val wedges = kept.as("x").join(kept.as("y"),
            col("x.c") === col("y.c") && col("x.p") < col("y.p"))
          .select((shiftleft(col("x.p"), 32) + col("y.p")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("common"))
          .select(shiftright(col("pk"), 32).as("s_a"),
            (col("pk").bitwiseAND(lit(0xffffffffL))).as("s_b"),
            col("common"))
        wedges
          .join(sdeg.select(col("p").as("s_a"), col("dg").as("da")), "s_a")
          .join(sdeg.select(col("p").as("s_b"), col("dg").as("db")), "s_b")
          .select(col("s_a"), col("s_b"), col("common"),
            expr("common * 1000000 div (da + db - common)").as("jac_ppm"))
          .orderBy(col("jac_ppm").desc, col("s_a"), col("s_b"))
          .limit(25)
      },
      Some("""WITH pairs AS MATERIALIZED (
             |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |smallc AS (
             |  SELECT c FROM pairs GROUP BY c HAVING count(*) <= 64),
             |kept AS MATERIALIZED (
             |  SELECT p.c, p.p FROM pairs p JOIN smallc USING (c)),
             |sdeg AS (SELECT p, count(*) AS dg FROM kept GROUP BY p),
             |w AS (
             |  SELECT x.p AS s_a, y.p AS s_b, count(*) AS common
             |  FROM kept x JOIN kept y ON x.c = y.c AND x.p < y.p
             |  GROUP BY 1, 2)
             |SELECT CAST(s_a AS BIGINT) AS s_a, CAST(s_b AS BIGINT) AS s_b,
             |  CAST(common AS BIGINT) AS common,
             |  CAST(common * 1000000 // (da.dg + db.dg - common) AS BIGINT)
             |    AS jac_ppm
             |FROM w
             |JOIN sdeg da ON da.p = w.s_a
             |JOIN sdeg db ON db.p = w.s_b
             |ORDER BY jac_ppm DESC, s_a, s_b LIMIT 25""".stripMargin)),

    // HOURLY-SERIES AUTOCORRELATION — per event type, the signed r² of
    // (count_t, count_{t−L}) at lags 1..6 hours over the gap-densified
    // hourly series: the seasonality / burst-persistence diagnostic read
    // before trusting any per-hour monitoring threshold (a high lag-24
    // ACF says "compare to yesterday's hour", a flat curve says a global
    // mean suffices). All moments are exact integers (sums of counts and
    // their products through DECIMAL(38,0)); the single float step is the
    // final Pearson ratio — one cast-to-double of exact quantities, one
    // multiply, one divide, round(6) — the AUC device, bit-identical
    // across engines. Signed r² (num·|num| / (dx·dy)) keeps the sign
    // without a square root. Scale shape: the raw scan collapses to a
    // map-side-combined (type, hour) count; densify + 6 lag columns ride
    // ONE type-partitioned window over the hours-bounded series (wall
    // clock, not data volume, bounds each partition — the EWMA/CUSUM
    // license); everything after is a ≤|types|·6-row aggregate.
    "q_event_autocorr" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ts AS BIGINT) div 3600").as("h"))
        val c = e.groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("cnt"))
        val grid = c.groupBy(col("event_type"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        val dense = grid.join(c, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))
        val lagged = (1 to 6).foldLeft(dense) { (df, l) =>
          df.withColumn(s"x$l", lag(col("cnt"), l).over(w))
        }
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val pairs = lagged.select(col("event_type"), col("cnt").as("y"),
            expr("stack(6, 1L, x1, 2L, x2, 3L, x3, 4L, x4, 5L, x5, 6L, x6)")
              .as(Seq("lag", "x")))
          .filter(col("x").isNotNull)
        val m = pairs.groupBy(col("event_type"), col("lag"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(dec(col("x")) * dec(col("y"))).as("sxy"),
            sum(dec(col("x")) * dec(col("x"))).as("sx2"),
            sum(dec(col("y")) * dec(col("y"))).as("sy2"))
        m.select(col("event_type"), col("lag"), col("n").as("n_pairs"),
            (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
              .as("num"),
            (dec(col("n")) * col("sx2") - dec(col("sx")) * dec(col("sx")))
              .cast(DoubleType).as("dx"),
            (dec(col("n")) * col("sy2") - dec(col("sy")) * dec(col("sy")))
              .cast(DoubleType).as("dy"))
          .select(col("event_type"), col("lag"), col("n_pairs"),
            when(col("dx") === 0d || col("dy") === 0d, lit(0d))
              .otherwise(org.apache.spark.sql.functions.round(
                col("num").cast(DoubleType) *
                  abs(col("num").cast(DoubleType)) /
                  (col("dx") * col("dy")), 6)).as("r2_signed"))
          .orderBy(col("event_type"), col("lag"))
      },
      Some("""WITH c AS MATERIALIZED (
             |  SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |grid AS (
             |  SELECT event_type,
             |    unnest(range(min(h), max(h) + 1)) AS h
             |  FROM c GROUP BY event_type),
             |dense AS MATERIALIZED (
             |  SELECT g.event_type, g.h,
             |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
             |  FROM grid g LEFT JOIN c ON g.event_type = c.event_type
             |    AND g.h = c.h),
             |pairs AS (
             |  SELECT a.event_type, l.lag, b.cnt AS x, a.cnt AS y
             |  FROM dense a
             |  JOIN (SELECT unnest(range(1, 7)) AS lag) l ON true
             |  JOIN dense b ON b.event_type = a.event_type
             |    AND b.h = a.h - l.lag),
             |m AS (
             |  SELECT event_type, lag, count(*) AS n,
             |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sx2,
             |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2
             |  FROM pairs GROUP BY 1, 2),
             |r AS (
             |  SELECT event_type, lag, n,
             |    n * sxy - sx * sy AS num,
             |    CAST(n * sx2 - sx * sx AS DOUBLE) AS dx,
             |    CAST(n * sy2 - sy * sy AS DOUBLE) AS dy
             |  FROM m)
             |SELECT event_type, CAST(lag AS BIGINT) AS lag,
             |  CAST(n AS BIGINT) AS n_pairs,
             |  CASE WHEN dx = 0 OR dy = 0 THEN 0.0
             |    ELSE round(CAST(num AS DOUBLE) * abs(CAST(num AS DOUBLE))
             |      / (dx * dy), 6) END AS r2_signed
             |FROM r ORDER BY event_type, lag""".stripMargin))
  )
}
