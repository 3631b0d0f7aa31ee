package graft

import graft.cdc.ChangeRecord._
import graft.cdc.{Materialize, UpsertSink}
import graft.cdc.dialect.JdbcUpsertSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Changelog emission + materialization semantics on a handcrafted envelope
  * (the RowKind dispatch table of RowDataDebeziumDeserializeSchema.java:
  * 118-146 and the keyed newest-image reduction). */
class MaterializeSpec extends SparkSpecBase {

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def env(rows: Seq[(Long, String, Long, Option[(Long, String)], Option[(Long, String)])]) = {
    val schema = envelopeSchema(payload)
    val data = rows.map { case (off, op, ts, before, after) =>
      Row(off, op, ts, "db", "t",
        before.map { case (i, v) => Row(i, v) }.orNull,
        after.map { case (i, v) => Row(i, v) }.orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data), schema)
  }

  // log: insert k1, insert k2, update k1 v->v1b, delete k2, insert k3
  private val log = env(Seq(
    (1L, "r", 0L, None, Some((1L, "v1"))),
    (2L, "r", 0L, None, Some((2L, "v2"))),
    (3L, "u", 100L, Some((1L, "v1")), Some((1L, "v1b"))),
    (4L, "d", 200L, Some((2L, "v2")), None),
    (5L, "c", 300L, None, Some((3L, "v3")))))

  test("emit ALL: +I/-U/+U/-D cardinalities and images") {
    val out = Materialize.emit(log, ChangelogAll)
    val byOp = out.groupBy(OpCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp === Map("+I" -> 3L, "-U" -> 1L, "+U" -> 1L, "-D" -> 1L))
    val minusU = out.filter(s"$OpCol = '-U'").select("v").collect()
    assert(minusU.map(_.getString(0)).toSeq === Seq("v1")) // stale image
  }

  test("emit UPSERT suppresses UPDATE_BEFORE") {
    val ops = Materialize.emit(log, ChangelogUpsert)
      .select(OpCol).distinct().collect().map(_.getString(0)).toSet
    assert(ops === Set("+I", "+U", "-D"))
  }

  test("materialize yields the post-change state") {
    val state = Materialize.materializeEnvelope(log, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state.toSeq === Seq((1L, "v1b"), (3L, "v3")))
  }

  test("materialize over ALL-mode emission ignores -U rows") {
    val state = Materialize.materialize(
        Materialize.emit(log, ChangelogAll), Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state.toSeq === Seq((1L, "v1b"), (3L, "v3")))
  }

  test("delete of a never-seen key leaves no residue") {
    val weird = env(Seq(
      (1L, "r", 0L, None, Some((1L, "v1"))),
      (2L, "d", 50L, Some((9L, "ghost")), None)))
    val state = Materialize.materializeEnvelope(weird, Seq("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(state === Seq(1L))
  }

  test("Materialize, UpsertSink and JdbcUpsertSink reach one state") {
    // insert; two updates of one key in one batch; a delete; a re-insert
    // after the delete; then the middle batch replayed
    def emitted(rows: (Long, String, Long, String)*): DataFrame = {
      val schema = StructType(payload.fields ++ Seq(
        StructField(OpCol, StringType), StructField(OffsetCol, LongType),
        StructField(TsCol, LongType), StructField(DbCol, StringType),
        StructField(TableCol, StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, v, off, op) => Row(id, v, op, off, off, "db", "t") }),
        schema)
    }
    val b1 = emitted((1L, "a", 1L, "+I"), (2L, "b", 2L, "+I"))
    val b2 = emitted(
      (1L, "a", 3L, "-U"), (1L, "a2", 3L, "+U"),
      (1L, "a2", 4L, "-U"), (1L, "a3", 4L, "+U"),
      (2L, "b", 5L, "-D"))
    val b3 = emitted((2L, "b2", 6L, "+I"), (3L, "c", 7L, "+I"))
    val log = Seq(b1, b2, b3, b2)
    val want = Set((1L, "a3"), (2L, "b2"), (3L, "c"))
    def rows(df: DataFrame) = df.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    assert(rows(Materialize.materialize(log.reduce(_ union _), Seq("id"))) === want)
    val sink = tmpDir("one-state-sink") + "/state"
    log.foreach(UpsertSink.mergeInto(spark, _, Seq("id"), sink))
    assert(rows(UpsertSink.readState(spark, sink)) === want)
    val db = tmpDir("one-state-jdbc")
    log.foreach(JdbcUpsertSink.mergeInto(_, Seq("id"), db, "t_one"))
    assert(rows(JdbcUpsertSink.readBack(spark, db, "t_one")) === want)
  }
}
