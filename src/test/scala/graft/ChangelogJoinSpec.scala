package graft

import graft.cdc.ChangeRecord._
import graft.cdc.{ChangelogJoin, FileCdcDatabase}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/**
 * Two-changelog streaming join: dual-sided keyed state, retraction
 * cascades, and join-key migration (a `-U`/`+U` pair whose images route to
 * DIFFERENT groups). Rate-limited to one event per trigger so every state
 * transition crosses a micro-batch boundary.
 *
 * Emission ASSERTIONS are interleaving-robust: the two sources advance
 * independently, so the exact op sequence depends on batch pairing — only
 * the materialized final state is invariant, plus a few properties that
 * hold under any interleaving.
 */
class ChangelogJoinSpec extends SparkSpecBase {

  import spark.implicits._

  private val lPayload = StructType(Seq(
    StructField("id", LongType), StructField("ck", LongType),
    StructField("v", StringType)))
  private val rPayload = StructType(Seq(
    StructField("ck", LongType), StructField("seg", StringType)))

  private def envSchema(payload: StructType) = StructType(Seq(
    StructField(OffsetCol, LongType), StructField(OpCol, StringType),
    StructField(TsCol, LongType), StructField(DbCol, StringType),
    StructField(TableCol, StringType),
    StructField(BeforeCol, payload), StructField(AfterCol, payload)))

  private def writeSide(dir: String, table: String, payload: StructType,
      snapshot: DataFrame, changes: Seq[Row]): Unit =
    FileCdcDatabase.write(spark, dir, table, "graft",
      payload.fieldNames.head, snapshot,
      spark.createDataFrame(spark.sparkContext.parallelize(changes),
        envSchema(payload)),
      force = true)

  test("changelog join: retraction cascade + join-key migration") {
    val dir = tmpDir("chjoin-db")
    // dummy snapshot rows (earliest mode replays the log only)
    writeSide(dir, "l", lPayload,
      Seq((999L, 999L, "zz")).toDF("id", "ck", "v"),
      Seq(
        Row(1L, "c", 1L, "graft", "l", null, Row(1L, 10L, "x1")),
        Row(2L, "c", 2L, "graft", "l", null, Row(2L, 10L, "x2")),
        Row(5L, "c", 5L, "graft", "l", null, Row(3L, 20L, "x3")),
        // join-key migration: l3 moves ck 20 → 10
        Row(7L, "u", 7L, "graft", "l",
          Row(3L, 20L, "x3"), Row(3L, 10L, "x3b"))))
    writeSide(dir, "r", rPayload,
      Seq((999L, "zz")).toDF("ck", "seg"),
      Seq(
        Row(3L, "c", 3L, "graft", "r", null, Row(10L, "s1")),
        Row(4L, "c", 4L, "graft", "r", null, Row(20L, "s2")),
        // right-side update: every joined left row must retract + re-emit
        Row(6L, "u", 6L, "graft", "r", Row(10L, "s1"), Row(10L, "s1b")),
        // right-side delete: cascades -D onto any still-joined left rows
        Row(8L, "d", 8L, "graft", "r", Row(20L, "s2"), null)))

    def src(table: String): DataFrame = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", table)
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()

    val out = QueryUtil.drain(
      ChangelogJoin.join(src("l"), "id", "ck", src("r"), "ck", "ck"), "update").cache()

    // final state: all three left rows joined to ck=10 with the updated
    // segment; nothing joined to the deleted ck=20
    val fin = ChangelogJoin.materializeJoined(out)
      .select(from_json(col("limg"), lPayload).as("l"),
        from_json(col("rimg"), rPayload).as("r"))
      .select(col("l.id"), col("l.v"), col("r.seg"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(fin === Set((1L, "x1", "s1b"), (2L, "x2", "s1b"),
      (3L, "x3b", "s1b")))

    val rows = out.select("lpk", "rpk", "op", "rimg").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    // the right-side update retracted the previously joined rows carrying
    // the OLD image (l1/l2 precede it in every interleaving)
    val retracts = rows.filter(t => t._3 == RowKind.UpdateBefore
      || t._3 == RowKind.Delete)
    assert(retracts.count(t => t._2 == "10" && t._4.contains("s1\"")) >= 2,
      rows.mkString("\n"))
    // no surviving (l3, ck=20) pair and nothing joined to ck=20 at the end
    val survivors = ChangelogJoin.materializeJoined(out)
      .select("rpk").as[String].collect()
    assert(!survivors.contains("20"))
    out.unpersist()
  }

  test("key-moved PAIR re-forms in a new group: global version keeps it") {
    // the same joined identity (lpk=1, rpk=5) exists in group ck=10, then
    // BOTH rows migrate to ck=30 and the pair re-forms there. Group 10's
    // emission counter is inflated by churn first, so a per-group version
    // would rank the old group's retraction above the new group's
    // insertion — the (off, rk, seq) triple must keep the live pair.
    val dir = tmpDir("chjoin-migrate")
    val rP = StructType(Seq(StructField("rid", LongType),
      StructField("ck", LongType), StructField("seg", StringType)))
    writeSide(dir, "l2", lPayload,
      Seq((999L, 999L, "zz")).toDF("id", "ck", "v"),
      Seq(
        Row(1L, "c", 1L, "graft", "l2", null, Row(1L, 10L, "a1")),
        // churn in group 10: each update retracts + re-emits the joined
        // pair, pumping the group's counter
        Row(3L, "u", 3L, "graft", "l2",
          Row(1L, 10L, "a1"), Row(1L, 10L, "a2")),
        Row(4L, "u", 4L, "graft", "l2",
          Row(1L, 10L, "a2"), Row(1L, 10L, "a3")),
        Row(5L, "u", 5L, "graft", "l2",
          Row(1L, 10L, "a3"), Row(1L, 10L, "a4")),
        // left row migrates ck 10 → 30
        Row(7L, "u", 7L, "graft", "l2",
          Row(1L, 10L, "a4"), Row(1L, 30L, "a5"))))
    writeSide(dir, "r2", rP,
      Seq((999L, 999L, "zz")).toDF("rid", "ck", "seg"),
      Seq(
        Row(2L, "c", 2L, "graft", "r2", null, Row(5L, 10L, "s1")),
        // right row follows to ck=30 — the pair re-forms in group 30
        Row(9L, "u", 9L, "graft", "r2",
          Row(5L, 10L, "s1"), Row(5L, 30L, "s2"))))

    def src(table: String): DataFrame = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", table)
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()

    val out = QueryUtil.drain(
      ChangelogJoin.join(src("l2"), "id", "ck", src("r2"), "rid", "ck"), "update")

    val fin = ChangelogJoin.materializeJoined(out)
      .select(col("lpk"), col("rpk"),
        from_json(col("limg"), lPayload).as("l"),
        from_json(col("rimg"), rP).as("r"))
      .select(col("lpk"), col("rpk"), col("l.v"), col("r.seg"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(fin.toSeq === Seq(("1", "5", "a5", "s2")), fin.mkString("\n"))
  }
}
