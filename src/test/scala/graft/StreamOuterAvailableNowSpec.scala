package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trigger.AvailableNow + left-outer join semantics on a one-file input:
  * the final no-data micro-batch advances the watermark to
  * min(max p_ts, max c_ts) − delay and flushes evictable outer state, so
  * every purchase OLDER than the final watermark emits (matched or
  * null-padded) — while unmatched purchases INSIDE the final watermark
  * window stay in state when the query stops. q_stream_left_outer_join's
  * oracle encodes exactly this eviction rule. */
class StreamOuterAvailableNowSpec extends SparkSpecBase {

  test("AvailableNow flushes outer rows up to the final watermark") {
    val dir0 = "/root/testdata/sf0.001"
    def eventsStream = Tables.eventsStream(spark, dir0)
    val clicks = eventsStream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = eventsStream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts").cast(LongType) >= col("p_ts").cast(LongType) - 600 &&
          col("c_ts").cast(LongType) <= col("p_ts").cast(LongType),
        "leftOuter")
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    val got = QueryUtil.drain(joined)

    val ev = Tables.load(spark, dir0, "events")
    val wmRow = ev.agg(
      max(when(col("event_type") === "purchase", col("ts"))).as("mp"),
      max(when(col("event_type") === "click", col("ts"))).as("mc"))
      .selectExpr("least(mp, mc) - interval 1 hour AS wm").collect()(0)
    val wm = wmRow.getTimestamp(0)

    // complete: every purchase at or before the final watermark emitted
    val expected = ev.filter(col("event_type") === "purchase")
      .filter(col("ts") <= lit(wm)).count()
    val distinctP = got.select(col("purchase_id")).distinct().count()
    assert(distinctP >= expected,
      s"outer join incomplete: $distinctP emitted < $expected ≤ watermark")
    // and no purchase emitted twice with AND without a match
    val both = got.groupBy(col("purchase_id"))
      .agg(countDistinct(col("click_id").isNull).as("kinds"))
      .filter(col("kinds") > 1).count()
    assert(both == 0, "a purchase emitted both matched and null-padded rows")
  }
}
