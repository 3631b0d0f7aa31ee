package graft.queries

import graft.cdc._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Stateful streaming materialization queries: the CDC source feeds
 * `flatMapGroupsWithState` (per-key newest-image state → upsert stream) and
 * the `foreachBatch` MERGE sink. Both run rate-limited so the log drains
 * over several micro-batches — state survival across batches is the point.
 */
object StreamingQueries {

  import ChangeRecord._

  /** Per-user windowed-funnel state: the two running maxima the batch
    * windows compute, plus the deepest stage reached — O(1) per user. */
  case class FunnelState(lastView: Long, bestAnchor: Long, stage: Int)

  object FunnelState {
    val empty: FunnelState = FunnelState(Long.MinValue, Long.MinValue, 0)
  }

  /** One micro-batch of the windowed-funnel state machine: apply this
    * batch's (event_type, event_id, tse) rows — sorted here into
    * (tse, event_id) order — on top of the carried state. Extracted so
    * the BATCH-BOUNDARY INVARIANCE property is unit-testable: splitting
    * a user's event sequence at any point and threading the state gives
    * the same final stage as one pass (WindowFunnelStateSpec). */
  private[graft] def funnelStep(fs0: FunnelState,
      batch: Seq[(String, Long, Long)], w: Long): FunnelState = {
    var fs = fs0
    batch.sortBy { case (_, eid, tse) => (tse, eid) }.foreach {
      case (typ, _, tse) => typ match {
        case "view" =>
          // stage-1 before the state write: the running maxima must only
          // see STRICTLY earlier events (the batch windows' 1-PRECEDING
          // bound)
          fs = fs.copy(lastView = math.max(fs.lastView, tse),
            stage = math.max(fs.stage, 1))
        case "click" if fs.lastView != Long.MinValue =>
          val s2 = fs.lastView >= tse - w
          fs = fs.copy(
            bestAnchor = math.max(fs.bestAnchor, fs.lastView),
            stage = math.max(fs.stage, if (s2) 2 else fs.stage))
        case "purchase" if fs.bestAnchor != Long.MinValue &&
            fs.bestAnchor >= tse - w =>
          fs = fs.copy(stage = 3)
        case _ => ()
      }
    }
    fs
  }

  private val ordersSpec = ChangelogGen.Spec(pk = "o_orderkey",
    measure = "o_totalprice", table = "orders")
  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private[queries] def prepare(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb", sfDir)
    val base = Tables.load(spark, sfDir, "orders")
    FileCdcDatabase.write(spark, dir, "orders", "graft", ordersSpec.pk,
      snapshot = base,
      changes = ChangelogGen.changes(base, ordersSpec),
      snapshotPartitions = 32)
    dir
  }

  private def readStreamEarliest(s: SparkSession, dir: String): DataFrame = {
    // Rate limit scaled to the log size: enough to exercise state across
    // >=2 micro-batches at every SF, without paying per-batch planning
    // overhead x O(SF) batches — at cluster scale the per-trigger cap must
    // grow with throughput, not stay a constant.
    val logEvents = FileCdcDatabase.readMeta(dir, "orders").maxOffset
    val perTrigger = math.max(4000L, logEvents / 2 + 1)
    s.readStream.format("graft-cdc")
      .option("path", dir).option("table", "orders")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", perTrigger.toString)
      .option("scan.incremental.snapshot.chunk.size", "1000")
      .load()
  }

  /** Final state of the keys the log touches (log-only replay): updated
    * non-deleted rows (measure doubled) plus the inserted copies. */
  private def changedKeysOracle: String = {
    val upd = orderCols.map {
      case c if c == ordersSpec.measure => s"$c * 2 AS $c"
      case c => c
    }.mkString(", ")
    val ins = orderCols.map {
      case c if c == ordersSpec.pk => s"$c + ${ordersSpec.insertKeyOffset} AS $c"
      case c => c
    }.mkString(", ")
    s"""SELECT $upd FROM orders
       |WHERE o_orderkey % 10 = 7 AND o_orderkey % 13 <> 3
       |UNION ALL
       |SELECT $ins FROM orders WHERE o_orderkey % 100 = 1
       |ORDER BY o_orderkey""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // Structured Streaming windowed aggregation with an event-time
    // watermark over the events table read as a file stream (update mode →
    // the final emission per window equals the complete aggregate; the
    // single-file input arrives in one batch, so no late rows are dropped
    // and the result is deterministic against the batch oracle).
    "q_stream_hourly_agg" -> QueryDef(
      // streaming state is O(windows×types): size stores to state volume
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.types._
        val hourly = Tables.eventsStream(s, dir0)
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
              .as("sum_value"))
          .select(col("window.start").as("hour"), col("event_type"),
            col("n"), col("sum_value"))
        graft.QueryUtil.drain(hourly, "update")
          .groupBy(col("hour"), col("event_type"))
          .agg(max_by(struct(col("n"), col("sum_value")), col("n")).as("v"))
          .select(col("hour"), col("event_type"), col("v.n").as("n"),
            col("v.sum_value").as("sum_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING WINDOWED FUNNEL — the real-time twin of q_window_funnel:
    // the same ClickHouse-windowFunnel semantics carried as per-user
    // keyed STATE (flatMapGroupsWithState) instead of batch windows. The
    // state is three scalars per user — latest view time, best click
    // anchor (max last-view over clicks seen so far), deepest stage —
    // exactly the two running maxima the batch form computes, so state
    // is O(users), never O(events), and each event updates in O(1): the
    // shape a live product-analytics funnel needs at firehose scale.
    // Within a batch events apply in (ts, event_id) order (per-user
    // activity-bounded sort — the session-window license); across
    // batches the replayed file stream preserves event-time order. The
    // oracle is the SAME SQL as the batch query.
    "q_stream_window_funnel" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        import s.implicits._
        val W = 86400L
        val ds = Tables.eventsStream(s, dir0)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts").cast(LongType).as("tse"))
          .as[(Long, String, Long, Long)]
        val stream = ds.groupByKey(_._1)
          .flatMapGroupsWithState[FunnelState, (Long, Int)](
            OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
            (user, it, st) =>
              val fs = funnelStep(st.getOption.getOrElse(FunnelState.empty),
                it.map { case (_, typ, eid, tse) => (typ, eid, tse) }.toSeq,
                W)
              st.update(fs)
              Iterator.single((user, fs.stage))
          }
          .toDF("user_id", "stage")
        // stage is monotone per user: the final emission is the max
        graft.QueryUtil.drain(stream, "update")
          .groupBy(col("user_id"))
          .agg(max(col("stage")).cast(LongType).as("stage"))
          .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("stage"))
      },
      Some(AdvancedQueries.WindowFunnelOracle)),

    // Stream-stream inner join with event-time watermarks and a range
    // condition (Spark's watermarked interval join): purchases matched to
    // same-user clicks within the prior 10 minutes. AvailableNow drains the
    // single input file in one batch, so no matches are watermark-dropped
    // and the result equals the batch join.
    "q_stream_stream_join" -> QueryDef(
      // 4 state stores per PARTITION per batch — partition count is the
      // state-store-commit multiplier, so size it to state volume, not
      // core count (measured at sf0.1/local[32]: 4 partitions halves the
      // query vs 8, 2 shaves another ~12%; a real cluster sizes up only
      // when per-partition state no longer fits an executor)
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 2) {
        def eventsStream = Tables.eventsStream(s, dir0)
        import org.apache.spark.sql.types.LongType
        val clicks = eventsStream.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"))
          .withWatermark("c_ts", "1 hour")
        val purchases = eventsStream.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("p_ts", "1 hour")
        // range at whole-second granularity (timestamp->long truncates),
        // matching the oracle's floor(epoch(...)) exactly
        // stream-stream joins emit append-only pairs; the rollup runs as a
        // batch aggregation over the drained sink
        val stream = purchases.join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts").cast(LongType) >= col("p_ts").cast(LongType) - 600 &&
              col("c_ts").cast(LongType) <= col("p_ts").cast(LongType))
          .select(col("user_id"), col("purchase_id"), col("click_id"))
        graft.QueryUtil.drain(stream)
          .groupBy(col("user_id"), col("purchase_id"))
          .agg(count(lit(1)).as("n_prior_clicks"))
          .orderBy(col("user_id"), col("purchase_id"))
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
             |  COUNT(*) AS n_prior_clicks
             |FROM events p JOIN events c
             |  ON p.user_id = c.user_id
             |  AND p.event_type = 'purchase' AND c.event_type = 'click'
             |  AND CAST(floor(epoch(c.ts)) AS BIGINT)
             |      BETWEEN CAST(floor(epoch(p.ts)) AS BIGINT) - 600
             |          AND CAST(floor(epoch(p.ts)) AS BIGINT)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Stream-stream LEFT OUTER interval join — the semantics an inner join
    // never exercises: unmatched left rows emit null-padded only when the
    // watermark passes their join window (state eviction IS the emission
    // trigger). Under Trigger.AvailableNow the final no-data micro-batch
    // advances the watermark to min(max p_ts, max c_ts) − 1 h and flushes
    // exactly the purchases at or before it; unmatched purchases inside
    // the final window stay in state — the oracle encodes that eviction
    // rule (matched OR p_ts ≤ final watermark), so the result is
    // deterministic end-of-stream semantics, not a flaky race.
    // (StreamOuterAvailableNowSpec pins the behavior.)
    "q_stream_left_outer_join" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 2) {
        def eventsStream = Tables.eventsStream(s, dir0)
        import org.apache.spark.sql.types.LongType
        val clicks = eventsStream.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"))
          .withWatermark("c_ts", "1 hour")
        val purchases = eventsStream.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("p_ts", "1 hour")
        val stream = purchases.join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts").cast(LongType) >= col("p_ts").cast(LongType) - 600 &&
              col("c_ts").cast(LongType) <= col("p_ts").cast(LongType),
            "leftOuter")
          .select(col("user_id"), col("purchase_id"), col("click_id"))
        graft.QueryUtil.drain(stream)
          .groupBy(col("user_id"), col("purchase_id"))
          .agg(count(col("click_id")).as("n_prior_clicks"))
          .orderBy(col("user_id"), col("purchase_id"))
      },
      Some("""WITH wm AS (
             |  SELECT least(
             |    MAX(CASE WHEN event_type = 'purchase' THEN ts END),
             |    MAX(CASE WHEN event_type = 'click' THEN ts END))
             |    - INTERVAL 1 HOUR AS w
             |  FROM events),
             |lo AS (
             |  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
             |         c.event_id AS click_id
             |  FROM events p LEFT JOIN events c
             |    ON p.user_id = c.user_id AND c.event_type = 'click'
             |    AND CAST(floor(epoch(c.ts)) AS BIGINT)
             |        BETWEEN CAST(floor(epoch(p.ts)) AS BIGINT) - 600
             |            AND CAST(floor(epoch(p.ts)) AS BIGINT)
             |  WHERE p.event_type = 'purchase')
             |SELECT user_id, purchase_id, count(click_id) AS n_prior_clicks
             |FROM lo, wm
             |GROUP BY user_id, purchase_id, p_ts, wm.w
             |HAVING count(click_id) > 0 OR p_ts <= wm.w
             |ORDER BY user_id, purchase_id""".stripMargin)),

    // Stream-stream FULL OUTER interval join: BOTH sides' unmatched rows
    // null-pad when the watermark passes their last possible match.
    // Purchase side evicts once wm > p_ts (its click window [p_ts−600,
    // p_ts] is closed); click side evicts once wm > c_ts + 600 (its
    // purchase window [c_ts, c_ts+600] is closed) — the oracle encodes
    // both eviction rules against the AvailableNow final watermark
    // (min of the two stream maxima − 1 h), so the result is
    // deterministic end-of-stream semantics on both sides.
    "q_stream_full_outer_join" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 2) {
        def eventsStream = Tables.eventsStream(s, dir0)
        import org.apache.spark.sql.types.LongType
        val clicks = eventsStream.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id"))
          .withWatermark("c_ts", "1 hour")
        val purchases = eventsStream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"))
          .withWatermark("p_ts", "1 hour")
        val stream = purchases.join(clicks,
            col("p_user") === col("c_user") &&
              col("c_ts").cast(LongType) >= col("p_ts").cast(LongType) - 600 &&
              col("c_ts").cast(LongType) <= col("p_ts").cast(LongType),
            "fullOuter")
          .select(col("p_user"), col("c_user"), col("purchase_id"),
            col("click_id"))
        graft.QueryUtil.drain(stream)
          .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
            when(col("purchase_id").isNotNull && col("click_id").isNotNull,
              "both").when(col("purchase_id").isNotNull, "p_only")
              .otherwise("c_only").as("kind"))
          .groupBy(col("user_id"), col("kind"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("user_id"), col("kind"))
      },
      Some("""WITH wm AS (
             |  SELECT least(
             |    MAX(CASE WHEN event_type = 'purchase' THEN ts END),
             |    MAX(CASE WHEN event_type = 'click' THEN ts END))
             |    - INTERVAL 1 HOUR AS w
             |  FROM events),
             |p AS (SELECT user_id, event_id, ts FROM events
             |      WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, event_id, ts FROM events
             |      WHERE event_type = 'click'),
             |fo AS (
             |  SELECT p.user_id AS p_user, c.user_id AS c_user,
             |         p.event_id AS purchase_id, c.event_id AS click_id,
             |         p.ts AS p_ts, c.ts AS c_ts
             |  FROM p FULL JOIN c
             |    ON p.user_id = c.user_id
             |    AND CAST(floor(epoch(c.ts)) AS BIGINT)
             |        BETWEEN CAST(floor(epoch(p.ts)) AS BIGINT) - 600
             |            AND CAST(floor(epoch(p.ts)) AS BIGINT))
             |SELECT coalesce(p_user, c_user) AS user_id,
             |  CASE WHEN purchase_id IS NOT NULL AND click_id IS NOT NULL
             |         THEN 'both'
             |       WHEN purchase_id IS NOT NULL THEN 'p_only'
             |       ELSE 'c_only' END AS kind,
             |  COUNT(*) AS n
             |FROM fo, wm
             |WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
             |   OR (purchase_id IS NOT NULL AND p_ts <= wm.w)
             |   OR (click_id IS NOT NULL
             |       AND c_ts + INTERVAL 600 SECOND <= wm.w)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming deduplication with watermark state (dropDuplicates on the
    // natural key): first arrival wins, per-key state expires past the
    // watermark. Counts per event_type after dedup match batch DISTINCT.
    "q_stream_dedup" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val perType = Tables.eventsStream(s, dir0)
          .withWatermark("ts", "1 hour")
          .dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
        graft.QueryUtil.drain(perType, "complete").orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Streaming gap-based sessionization via session_window — the streaming
    // twin of q_sessionize, checked against the SAME oracle. Timestamps are
    // second-truncated before windowing; session_window merges while
    // next_start ≤ prev_ts + gap (inclusive), which with gap = 1800 s is
    // exactly the batch rule (split only when the gap is strictly > 1800). Complete mode re-emits all sessions each
    // batch; with the single AvailableNow batch that IS the final set.
    "q_stream_session_window" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.types._
        // timestamp→long cast floor-divides micros by 1e6: exactly the
        // oracle's floor(epoch(ts)) second truncation
        val streamed = Tables.eventsStream(s, dir0)
          .withColumn("tse", col("ts").cast(LongType))
          .withColumn("tst", timestamp_seconds(col("tse")))
        val sessions = streamed
          .withWatermark("tst", "1 hour")
          .groupBy(col("user_id"), session_window(col("tst"), "1800 seconds"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tse")).as("sess_start"), max(col("tse")).as("sess_end"))
          .select(col("user_id"), col("session_window.start").as("ws"),
            col("n_events"), col("sess_start"), col("sess_end"))
        // session windows reject update mode
        graft.QueryUtil.drain(sessions, "complete")
          .groupBy(col("user_id"), col("ws"))
          .agg(max_by(struct(col("n_events"), col("sess_start"),
            col("sess_end")), col("n_events")).as("v"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            max(col("v.n_events")).as("max_session_events"),
            sum(col("v.sess_end") - col("v.sess_start"))
              .as("total_session_sec"))
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

    // flatMapGroupsWithState: per-key newest-image state across rate-limited
    // micro-batches; the upsert stream reduces to exactly the changed keys'
    // final state (delete markers win over earlier updates).
    "cdc_stream_stateful_upserts" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        val ups = StreamMaterialize.upserts(
          readStreamEarliest(s, dir), Seq(ordersSpec.pk))
        // collapse the upsert stream: newest op per key, deletes drop out
        val collected = graft.QueryUtil.drain(ups, "update")
        val last = collected.groupBy(col("k"))
          .agg(max_by(struct(col("op"), col("off"), col("img")), col("off"))
            .as("v"))
          .filter(col("v.op") =!= RowKind.Delete)
          .select(col("v.off").as("off"), lit(RowKind.UpdateAfter).as("op"),
            col("v.img").as("img"))
        StreamMaterialize
          .decodeUpserts(last, Tables.load(s, dir0, "orders").schema)
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(changedKeysOracle)),

    // Stream-static join: the CDC changelog stream enriched per micro-batch
    // against a broadcast static dimension (the streaming twin of
    // cdc_enrich_join) — inserted orders counted per market segment. The
    // dimension is re-resolvable every batch (Spark re-plans the static
    // side), which is the semantics a slowly-changing dim wants.
    "cdc_stream_enrich" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        val cust = Tables.load(s, dir0, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val stream = readStreamEarliest(s, dir)
          .filter(col(OpCol) === RowKind.Insert)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment"))
        graft.QueryUtil.drain(stream)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_inserted"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_inserted
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 100 = 1
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Retraction-PRESERVING enrichment: the changelog joined to the
    // broadcast dimension with its row kinds intact — every +I/-U/+U/-D
    // keeps its op and offset through the join, so the ENRICHED stream is
    // itself a changelog that materializes correctly: deletes still
    // retract, updates still supersede, now with dimension columns
    // attached. (cdc_stream_enrich enriches only inserts; this is the
    // changelog-algebra property — enrichment commutes with
    // materialization when the dim key is stable.)
    "cdc_enriched_changelog" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        val cust = Tables.load(s, dir0, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val stream = readStreamEarliest(s, dir)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("c_mktsegment"), col(OpCol), col(OffsetCol),
            col(TsCol), col(DbCol), col(TableCol))
        Materialize.materialize(graft.QueryUtil.drain(stream), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("c_mktsegment"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
             |  c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 10 = 7 AND o_orderkey % 13 <> 3
             |UNION ALL
             |SELECT o_orderkey + 1000000000, o_totalprice, c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 100 = 1
             |ORDER BY o_orderkey""".stripMargin)),

    // Incrementally maintained aggregate with retractions (the Flink
    // retract-aggregate, SURVEY §0(d)): the changelog stream drives
    // per-group COUNT/SUM state — +I/+U add, -U/-D subtract — over a
    // rate-limited drain, so updates and deletes mutate totals that were
    // accumulated in EARLIER micro-batches. The oracle recomputes the same
    // per-kind deltas relationally; exact DECIMAL arithmetic on both sides
    // makes the comparison bit-stable.
    "cdc_incremental_agg" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.types.DoubleType
        val dir = prepare(s, dir0)
        val stream = StreamMaterialize.retractAgg(
            readStreamEarliest(s, dir), "o_orderstatus", "o_totalprice")
        // newest version per group = the current aggregate
        graft.QueryUtil.drain(stream, "update").groupBy(col("g"))
          .agg(max_by(struct(col("cnt"), col("total")), col("ver")).as("v"))
          .select(col("g").as("o_orderstatus"),
            col("v.cnt").as("n_delta"),
            col("v.total").cast(DoubleType).as("total_delta"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, CAST(SUM(dc) AS BIGINT) AS n_delta,
             |  CAST(SUM(dm) AS DOUBLE) AS total_delta
             |FROM (
             |  SELECT o_orderstatus, 1 AS dc,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS dm
             |  FROM orders WHERE o_orderkey % 100 = 1
             |  UNION ALL
             |  SELECT o_orderstatus, 0,
             |    CAST(o_totalprice * 2 AS DECIMAL(18,2))
             |      - CAST(o_totalprice AS DECIMAL(18,2))
             |  FROM orders WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT o_orderstatus, -1,
             |    -(CASE WHEN o_orderkey % 10 = 7
             |        THEN CAST(o_totalprice * 2 AS DECIMAL(18,2))
             |        ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
             |  FROM orders WHERE o_orderkey % 13 = 3)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Incrementally maintained MIN/MAX with retractions — the multiset-
    // state companion to cdc_incremental_agg: per (group, value) net
    // counts, extremes over the net-positive values. Consumed from
    // `earliest` (mid-log), so the state sees genuine retractions of
    // values it never inserted (negative counts) and the extremes are
    // those of the net-added rows: updated (doubled) survivors plus the
    // inserted copies — which the oracle recomputes relationally.
    "cdc_retract_minmax" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.types.DoubleType
        val dir = prepare(s, dir0)
        val stream = StreamMaterialize.retractMinMax(
            readStreamEarliest(s, dir), "o_orderstatus", "o_totalprice")
        // newest version per group = the current extremes
        graft.QueryUtil.drain(stream, "update").groupBy(col("g"))
          .agg(max_by(struct(col("n"), col("min_m"), col("max_m")),
            col("ver")).as("v"))
          .select(col("g").as("o_orderstatus"),
            col("v.n").as("n_delta"),
            col("v.min_m").cast(DoubleType).as("min_m"),
            col("v.max_m").cast(DoubleType).as("max_m"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH deltas AS (
             |  SELECT o_orderstatus AS g,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS v, 1 AS d
             |  FROM orders WHERE o_orderkey % 100 = 1
             |  UNION ALL
             |  SELECT o_orderstatus,
             |    CAST(o_totalprice * 2 AS DECIMAL(18,2)), 1
             |  FROM orders WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT o_orderstatus,
             |    CAST(o_totalprice AS DECIMAL(18,2)), -1
             |  FROM orders WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT o_orderstatus,
             |    CASE WHEN o_orderkey % 10 = 7
             |      THEN CAST(o_totalprice * 2 AS DECIMAL(18,2))
             |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END, -1
             |  FROM orders WHERE o_orderkey % 13 = 3),
             |net AS (
             |  SELECT g, v, SUM(d) AS c FROM deltas GROUP BY g, v)
             |SELECT g AS o_orderstatus,
             |  CAST(SUM(c) AS BIGINT) AS n_delta,
             |  CAST(MIN(CASE WHEN c > 0 THEN v END) AS DOUBLE) AS min_m,
             |  CAST(MAX(CASE WHEN c > 0 THEN v END) AS DOUBLE) AS max_m
             |FROM net GROUP BY g ORDER BY g""".stripMargin)),

    // Incrementally maintained KMV distinct-count sketch over the
    // changelog (insert-only, like every theta/HLL-family sketch): state =
    // the k=8 smallest key hashes per group. K-minima merge exactly, so
    // the final streamed sketch equals the batch sketch over the same
    // inserts no matter how the rate limit slices the log — the oracle
    // recomputes it relationally from the keys the log inserts (+I copies,
    // +U updated rows; deletes are ignored by design).
    "cdc_stream_kmv_distinct" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        val stream = StreamMaterialize.kmvSketch(
            readStreamEarliest(s, dir), "o_orderpriority", "o_orderkey", 8)
        graft.QueryUtil.drain(stream, "update").groupBy(col("g"))
          .agg(max_by(col("kth"), col("ver")).as("kth"))
          .select(col("g").as("o_orderpriority"), col("kth"),
            round(lit(7.0d) * lit(1152921504606846976.0d) /
              col("kth").cast(org.apache.spark.sql.types.DoubleType), 4)
              .as("est_distinct"))
          .orderBy(col("o_orderpriority"))
      },
      Some {
        val h = graft.functions.TextFunctions.sqlMd5Long(
          "CAST(o_orderkey AS VARCHAR)")
        s"""WITH keys AS (
           |  SELECT o_orderpriority, o_orderkey FROM orders
           |  WHERE o_orderkey % 10 = 7
           |  UNION ALL
           |  SELECT o_orderpriority, o_orderkey + 1000000000 AS o_orderkey
           |  FROM orders WHERE o_orderkey % 100 = 1),
           |hashed AS (
           |  SELECT DISTINCT o_orderpriority, $h AS h FROM keys),
           |kth AS (
           |  SELECT o_orderpriority, h AS kth FROM (
           |    SELECT o_orderpriority, h,
           |      ROW_NUMBER() OVER (PARTITION BY o_orderpriority
           |        ORDER BY h) AS rn
           |    FROM hashed) WHERE rn = 8)
           |SELECT o_orderpriority, kth,
           |  round(7.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE), 4)
           |    AS est_distinct
           |FROM kth ORDER BY o_orderpriority""".stripMargin
      }),

    // Incrementally maintained RETRACTABLE quantile estimates over the
    // changelog: equi-width histogram state (bin = totalprice cents div
    // 2^20) where +I/+U increment and -U/-D decrement — the
    // distribution-state member of the retract-aggregate family
    // (COUNT/SUM → retractAgg, MIN/MAX → retractMinMax, quantiles →
    // here). Consumed from earliest (mid-log), so the state sees genuine
    // retractions; the oracle recomputes the net bin histogram
    // relationally with the same integer arithmetic.
    "cdc_stream_quantile" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        import org.apache.spark.sql.types.DoubleType
        val dir = prepare(s, dir0)
        val stream = StreamMaterialize.retractQuantile(
            readStreamEarliest(s, dir), "o_orderstatus", "o_totalprice",
            binWidthCents = 1048576L)
        graft.QueryUtil.drain(stream, "update").groupBy(col("g"))
          .agg(max_by(struct(col("n_net"), col("p50_est"), col("p95_est"),
            col("p99_est")), col("ver")).as("v"))
          .select(col("g").as("o_orderstatus"), col("v.n_net").as("n_net"),
            col("v.p50_est").cast(DoubleType).as("p50_est"),
            col("v.p95_est").cast(DoubleType).as("p95_est"),
            col("v.p99_est").cast(DoubleType).as("p99_est"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH deltas AS (
             |  SELECT o_orderstatus AS g,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS v, 1 AS d
             |  FROM orders WHERE o_orderkey % 100 = 1
             |  UNION ALL
             |  SELECT o_orderstatus,
             |    CAST(o_totalprice * 2 AS DECIMAL(18,2)), 1
             |  FROM orders WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT o_orderstatus,
             |    CAST(o_totalprice AS DECIMAL(18,2)), -1
             |  FROM orders WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT o_orderstatus,
             |    CASE WHEN o_orderkey % 10 = 7
             |      THEN CAST(o_totalprice * 2 AS DECIMAL(18,2))
             |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END, -1
             |  FROM orders WHERE o_orderkey % 13 = 3),
             |bins AS (
             |  SELECT g, CAST(v * 100 AS BIGINT) // 1048576 AS bin,
             |    SUM(d) AS c
             |  FROM deltas GROUP BY 1, 2),
             |pos AS (SELECT g, bin, CAST(c AS BIGINT) AS c
             |        FROM bins WHERE c > 0),
             |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS npos
             |        FROM pos GROUP BY g),
             |cum AS (
             |  SELECT g, bin, CAST(SUM(c) OVER (PARTITION BY g ORDER BY bin
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum
             |  FROM pos),
             |qs AS (
             |  SELECT c.g, t.npos,
             |    MIN(CASE WHEN cum >= (npos * 50 + 99) // 100 THEN bin END) AS q50,
             |    MIN(CASE WHEN cum >= (npos * 95 + 99) // 100 THEN bin END) AS q95,
             |    MIN(CASE WHEN cum >= (npos * 99 + 99) // 100 THEN bin END) AS q99
             |  FROM cum c JOIN tot t ON c.g = t.g GROUP BY c.g, t.npos)
             |SELECT g AS o_orderstatus, npos AS n_net,
             |  CAST(q50 * 1048576 AS DOUBLE) / 100.0 AS p50_est,
             |  CAST(q95 * 1048576 AS DOUBLE) / 100.0 AS p95_est,
             |  CAST(q99 * 1048576 AS DOUBLE) / 100.0 AS p99_est
             |FROM qs ORDER BY g""".stripMargin)),

    // foreachBatch MERGE into a LIVE JDBC table (Derby): offset-guarded
    // executor-side upserts/deletes over pooled connections, read back
    // through Spark's own JDBC source — the sink half of the CDC loop.
    "cdc_jdbc_sink_merge" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        // one shared scratch database (engine boot amortized across runs);
        // a fresh table per run keeps executions independent
        val sinkDir = s"${graft.Artifacts.Root}/jdbc_sink_db"
        val sinkTable = s"orders_sink_${System.nanoTime()}"
        val q = readStreamEarliest(s, dir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.cdc.dialect.JdbcUpsertSink.mergeInto(batch,
              Seq(ordersSpec.pk), sinkDir, sinkTable)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        graft.cdc.dialect.JdbcUpsertSink.readBack(s, sinkDir, sinkTable)
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(changedKeysOracle)),

    // foreachBatch MERGE sink: parquet state equals the materialized
    // changelog after every batch; idempotent newest-wins merge.
    "cdc_upsert_sink_merge" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        val out = graft.Artifacts.dir("upsert_sink", System.nanoTime().toString)
        val q = readStreamEarliest(s, dir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            UpsertSink.mergeInto(s, batch, Seq(ordersSpec.pk), out)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        UpsertSink.readState(s, out)
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(changedKeysOracle)),

    // Sink state RE-BUCKETING — the maintenance pass for a merge sink
    // whose key cardinality outgrew its pinned bucket count (too few
    // buckets = every merge rewrites megarows; a fresh pin alone cannot
    // fix a LIVE table, stored rows would sit in buckets incoming keys
    // never hash to). The changelog drains into a 4-bucket state, the
    // state re-buckets to 16 via the whole-directory staged swap, and a
    // FINAL merge batch lands under the new hashing — updating and
    // deleting keys stored before the rebucket, which is exactly what
    // breaks if the re-hash strands any row. Result must equal the plain
    // materialized state.
    "cdc_sink_rebucket" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        val out = graft.Artifacts.dir("upsert_sink", s"${System.nanoTime()}_rb")
        val bound = ordersSpec.insBand + 1000000L
        // phase 1: drain updates+some inserts into the 4-bucket layout
        // chunk.size 4000 (not the 1000 the merge-granularity query
        // cdc_upsert_sink_merge pins): THIS query tests the re-hash swap,
        // not per-chunk merge granularity, and every drained micro-batch
        // pays a full touched-bucket rewrite — coarser chunks = fewer
        // state rewrites for the same final state
        val q1 = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "earliest")
          .option("scan.bounded.offset", bound.toString)
          .option("scan.incremental.snapshot.chunk.size", "4000")
          .load()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            UpsertSink.mergeInto(s, batch, Seq(ordersSpec.pk), out,
              numBuckets = 4)
          }
          .trigger(Trigger.AvailableNow()).start()
        q1.awaitTermination()
        UpsertSink.rebucket(s, out, Seq(ordersSpec.pk), 16)
        // phase 2: the REST of the log (late inserts + all deletes) merges
        // into the re-bucketed state
        val q2 = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "specific-offset")
          .option("scan.startup.specific-offset", bound.toString)
          .option("scan.incremental.snapshot.chunk.size", "4000")
          .load()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            UpsertSink.mergeInto(s, batch, Seq(ordersSpec.pk), out)
          }
          .trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination()
        UpsertSink.readState(s, out)
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(changedKeysOracle)),

    // Two-changelog streaming JOIN, snapshot + log (the canonical cdc-sql
    // case: orders ⋈ customer where BOTH sides are CDC streams). One keyed
    // state operator holds both sides' current rows per join key and emits
    // the joined changelog with retractions; the drained output collapses
    // per joined identity to exactly the final-state join. Both sides'
    // updates (price ×2, acctbal ×2), inserts and deletes — including
    // customer deletes cascading retractions onto their orders — must land.
    "cdc_stream_join_materialized" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = CdcSourceQueries.prepare(s, dir0)
        CdcSourceQueries.prepareCustomer(s, dir0)
        def src(table: String): DataFrame = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", table)
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
        val joined = ChangelogJoin.join(
          src("orders"), "o_orderkey", "o_custkey",
          src("customer"), "c_custkey", "c_custkey")
        val oSchema = Tables.load(s, dir0, "orders").schema
        val cSchema = Tables.load(s, dir0, "customer").schema
        ChangelogJoin
          .materializeJoined(graft.QueryUtil.drain(joined, "update"))
          .select(from_json(col("limg"), oSchema).as("l"),
            from_json(col("rimg"), cSchema).as("r"))
          .select(col("l.o_orderkey"), col("l.o_totalprice"),
            col("r.c_mktsegment"), col("r.c_acctbal"))
          .orderBy(col("o_orderkey"))
      },
      Some {
        val ofin = ChangelogGen.oracleFinalStateSql(ordersSpec,
          Seq("o_orderkey", "o_custkey", "o_totalprice"), "orders")
        val cfin = ChangelogGen.oracleFinalStateSql(CdcSourceQueries.custSpec,
          Seq("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        s"""WITH ofin AS (
           |$ofin
           |), cfin AS (
           |$cfin
           |)
           |SELECT o_orderkey, o_totalprice, c_mktsegment, c_acctbal
           |FROM ofin JOIN cfin ON o_custkey = c_custkey
           |ORDER BY o_orderkey""".stripMargin
      }),

    // The same join over log-only replay (earliest), rate-limited so the
    // changelogs drain across several micro-batches: joined pairs are built
    // up, retracted and re-emitted as each side's updates and deletes land
    // in DIFFERENT batches from the rows they retract — the state-survival
    // property. Result = join of the two sides' log-touched final states.
    "cdc_stream_join_retractions" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = CdcSourceQueries.prepare(s, dir0)
        CdcSourceQueries.prepareCustomer(s, dir0)
        def src(table: String): DataFrame = {
          val logEvents = FileCdcDatabase.readMeta(dir, table).maxOffset
          val perTrigger = math.max(2000L, logEvents / 3 + 1)
          s.readStream.format("graft-cdc")
            .option("path", dir).option("table", table)
            .option("scan.startup.mode", "earliest")
            .option("scan.stream.max-events-per-trigger", perTrigger.toString)
            .option("scan.incremental.snapshot.chunk.size", "1000")
            .load()
        }
        val joined = ChangelogJoin.join(
          src("orders"), "o_orderkey", "o_custkey",
          src("customer"), "c_custkey", "c_custkey")
        val oSchema = Tables.load(s, dir0, "orders").schema
        val cSchema = Tables.load(s, dir0, "customer").schema
        ChangelogJoin
          .materializeJoined(graft.QueryUtil.drain(joined, "update"))
          .select(from_json(col("limg"), oSchema).as("l"),
            from_json(col("rimg"), cSchema).as("r"))
          .select(col("l.o_orderkey"), col("l.o_totalprice"),
            col("r.c_mktsegment"), col("r.c_acctbal"))
          .orderBy(col("o_orderkey"))
      },
      // log-touched final state per side: updated non-deleted rows (measure
      // doubled) plus inserted copies; -U/-D for keys never in state are
      // no-ops, matching the WHERE clauses exactly
      Some("""WITH ofc AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
             |  FROM orders WHERE o_orderkey % 10 = 7 AND o_orderkey % 13 <> 3
             |  UNION ALL
             |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice
             |  FROM orders WHERE o_orderkey % 100 = 1
             |), cfc AS (
             |  SELECT c_custkey, c_mktsegment, c_acctbal * 2 AS c_acctbal
             |  FROM customer WHERE c_custkey % 10 = 7 AND c_custkey % 13 <> 3
             |  UNION ALL
             |  SELECT c_custkey + 1000000000, c_mktsegment, c_acctbal
             |  FROM customer WHERE c_custkey % 100 = 1
             |)
             |SELECT o_orderkey, o_totalprice, c_mktsegment, c_acctbal
             |FROM ofc JOIN cfc ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // STREAMING SCD TYPE-2 (closed versions): the incremental twin of
    // `cdc_scd2_history` — per-key state holds the OPEN version; each
    // arriving image/delete CLOSES it, emitting an append-only history row
    // [valid_from, valid_to). A version's row is final the moment it
    // closes (no retractions), which is what makes SCD2 the
    // warehouse-friendly shape of a changelog: history grows append-only
    // even though the source stream has updates and deletes. Open versions
    // stay in state (O(1)/key). Runs over the LOG-REPLAY stream
    // (startup=earliest): versions open at +U/+I images and close at a
    // later -D — the update-band and delete-band offsets drain in
    // different micro-batches, so an open version genuinely crosses the
    // batch boundary in state. (Snapshot seeding of pre-log history is the
    // batch twin's job; a -D with no open version is a no-op here, exactly
    // how a warehouse applies deletes for rows it never loaded.) Within a
    // batch the group sorts its events by offset.
    "cdc_stream_scd2" -> QueryDef(
      (s, dir0) => graft.QueryUtil.withShufflePartitions(s, 4) {
        val dir = prepare(s, dir0)
        import s.implicits._
        val evs = readStreamEarliest(s, dir)
          .filter(col(OpCol) =!= RowKind.UpdateBefore)
          .select(col("o_orderkey").as("k"), col(OffsetCol).as("off"),
            col(OpCol).as("op"), col("o_totalprice").as("price"))
          .as[Scd2Ev]
        graft.QueryUtil.drain(scd2ClosedStream(evs))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("valid_from"), col("valid_to"))
          .orderBy(col("o_orderkey"), col("valid_from"))
      },
      // log-only closed versions: the post-update image of keys later
      // deleted (update band opens, delete band closes); inserted copies
      // and delete-without-open are never closed/emitted
      Some {
        val sp = ordersSpec
        s"""SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
           |  CAST(${sp.updBand} + o_orderkey AS BIGINT) AS valid_from,
           |  CAST(${sp.delBand} + o_orderkey AS BIGINT) AS valid_to
           |FROM orders
           |WHERE o_orderkey % ${sp.updEvery} = ${sp.updSel}
           |  AND o_orderkey % ${sp.delEvery} = ${sp.delSel}
           |ORDER BY o_orderkey, valid_from""".stripMargin
      })
  )

  /** Streaming-SCD2 event: one changelog image/delete for key `k`. */
  case class Scd2Ev(k: Long, off: Long, op: String, price: Double)
  /** Per-key state: the currently-open version. */
  case class Scd2Open(off: Long, price: Double)
  /** An emitted (closed) version row. */
  case class Scd2Closed(o_orderkey: Long, o_totalprice: Double,
      valid_from: Long, valid_to: Long)

  /** The streaming-SCD2 transform: per-key open-version state; every
    * arriving image/delete closes the open version (append-only output).
    * Shared by `cdc_stream_scd2` and its spec. */
  private[graft] def scd2ClosedStream(
      evs: org.apache.spark.sql.Dataset[Scd2Ev])
      : org.apache.spark.sql.Dataset[Scd2Closed] = {
    import evs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    evs.groupByKey(_.k)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Scd2Ev], state: GroupState[Scd2Open]) =>
          val out = Seq.newBuilder[Scd2Closed]
          var open = state.getOption
          rows.toSeq.sortBy(_.off).foreach { ev =>
            open.foreach { o =>
              out += Scd2Closed(key, o.price, o.off, ev.off)
            }
            open =
              if (ev.op == ChangeRecord.RowKind.Delete) None
              else Some(Scd2Open(ev.off, ev.price))
          }
          open match {
            case Some(o) => state.update(o)
            case None => state.remove()
          }
          out.result().iterator
      }
  }
}
