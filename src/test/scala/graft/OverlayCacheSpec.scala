package graft

import graft.cdc.ChangeRecord._
import graft.cdc.FileCdcDatabase
import graft.cdc.source.SnapshotOverlayCache
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The per-executor shared routing of the W2 log slice: the routed and
  * oversized-fallback (full-scan, prefiltered) modes must merge
  * identically, and partitions decoding in different zones must not share
  * decoded images. */
class OverlayCacheSpec extends SparkSpecBase {

  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("oversized overlay falls back to span-filtered builds, same result") {
    val dir = tmpDir("ovl-db")
    val snapshot = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, payload), StructField(AfterCol, payload)))
    // updates + deletes spread across the key space → the overlay holds
    // many keys, far over a cap of 1
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(
      (1L to 200L by 10L).map(i =>
        Row(i, "u", i * 10L, "graft", "t", Row(i, s"v$i"), Row(i, s"u$i")))
        ++ (5L to 200L by 25L).map(i =>
          Row(1000L + i, "d", i * 100L, "graft", "t", Row(i, s"v$i"), null))),
      env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)

    def readAll(): Set[(Long, String)] =
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.incremental.snapshot.chunk.size", "20")
        .load().select("id", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val origCap = SnapshotOverlayCache.MaxEntries
    try {
      SnapshotOverlayCache.clear()
      val shared = readAll()
      // every partition must now take the span-filtered local build
      SnapshotOverlayCache.MaxEntries = 1
      SnapshotOverlayCache.clear()
      val fallback = readAll()
      assert(shared === fallback)
      // sanity: merge actually applied updates and deletes
      assert(shared.contains((1L, "u1")) && !shared.exists(_._1 == 5L))
      assert(shared.size === 200 - 8)
    } finally {
      SnapshotOverlayCache.MaxEntries = origCap
      SnapshotOverlayCache.clear()
    }
  }

  test("server-time-zone keys the shared overlay: log-touched rows shift too") {
    val dir = tmpDir("ovl-tz")
    // zoneless wall-clock strings declared TIMESTAMP: the decode reads them
    // in server-time-zone, so two zones must never share decoded images
    val wire = StructType(Seq(
      StructField("id", LongType), StructField("ts", StringType)))
    val snapshot = spark.createDataFrame(spark.sparkContext.parallelize(
      (1L to 4L).map(i => Row(i, s"2024-01-15T12:00:0$i"))), wire)
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, wire), StructField(AfterCol, wire)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "u", 10L, "graft", "t", Row(2L, "2024-01-15T12:00:02"),
        Row(2L, "2024-01-15T13:00:00")))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true, schemaDdlOverride = Some("id BIGINT,ts TIMESTAMP"))

    def readIn(zone: String): Map[Long, java.time.Instant] =
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("server-time-zone", zone)
        .load().select("id", "ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).toInstant).toMap

    SnapshotOverlayCache.clear()
    try {
      val utc = readIn("UTC")
      val shanghai = readIn("Asia/Shanghai")
      assert(utc(2L) === java.time.Instant.parse("2024-01-15T13:00:00Z"))
      // snapshot-only and log-touched rows alike: Shanghai is UTC+8
      (1L to 4L).foreach { id =>
        assert(java.time.Duration.between(shanghai(id), utc(id)) ===
          java.time.Duration.ofHours(8), s"id $id")
      }
    } finally SnapshotOverlayCache.clear()
  }
}
