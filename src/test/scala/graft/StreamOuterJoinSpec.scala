package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/**
 * Watermarked stream-stream LEFT OUTER join semantics: matched pairs emit
 * immediately; unmatched left rows emit with nulls only after the watermark
 * passes their join window (state eviction is the emission trigger — the
 * part an inner join never exercises).
 */
class StreamOuterJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("left-outer interval join emits null-padded rows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long)] // (user, ts-seconds)
    val right = MemoryStream[(Long, Long)]

    val l = left.toDF().toDF("l_user", "l_sec")
      .withColumn("l_ts", timestamp_seconds(col("l_sec")))
      .withWatermark("l_ts", "10 seconds")
    val r = right.toDF().toDF("r_user", "r_sec")
      .withColumn("r_ts", timestamp_seconds(col("r_sec")))
      .withWatermark("r_ts", "10 seconds")

    val joined = l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts").cast(LongType) >= col("l_ts").cast(LongType) - 5 &&
        col("r_ts").cast(LongType) <= col("l_ts").cast(LongType),
      "leftOuter")
      .select(col("l_user"), col("l_sec"), col("r_sec"))

    val q = joined.writeStream.format("memory").queryName("soj")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 matches, user 2 has no right row
      left.addData((1L, 100L), (2L, 100L))
      right.addData((1L, 98L))
      q.processAllAvailable()
      // batch 2: advance both watermarks far past 100 → user 2's state
      // expires and the null-padded row must emit
      left.addData((9L, 1000L))
      right.addData((9L, 990L))
      q.processAllAvailable()

      val rows = spark.table("soj").collect()
        .map(x => (x.getLong(0), x.getLong(1),
          if (x.isNullAt(2)) -1L else x.getLong(2))).toSet
      assert(rows.contains((1L, 100L, 98L)), s"matched pair missing: $rows")
      assert(rows.contains((2L, 100L, -1L)),
        s"outer null row not emitted after watermark: $rows")
    } finally { q.stop(); spark.catalog.dropTempView("soj") }
  }
}
