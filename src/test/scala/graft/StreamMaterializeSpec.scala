package graft

import graft.cdc.ChangeRecord._
import graft.cdc.{FileCdcDatabase, StreamMaterialize, UpsertSink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** Stateful streaming materialization: flatMapGroupsWithState upserts and
  * the foreachBatch newest-wins MERGE sink. */
class StreamMaterializeSpec extends SparkSpecBase {

  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  /** Emitted-changelog rows (payload ++ meta). */
  private def emitted(rows: Seq[(Long, String, Long, String)]): DataFrame = {
    val schema = StructType(payload.fields ++ Seq(
      StructField(OpCol, StringType), StructField(OffsetCol, LongType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v, off, op) =>
        Row(id, v, op, off, off * 10, "db", "t")
      }), schema)
  }

  test("UpsertSink.mergeInto: newest wins across batches, idempotent replay") {
    val out = tmpDir("sink") + "/state"
    val b1 = emitted(Seq(
      (1L, "v1", 1L, "+I"), (2L, "v2", 2L, "+I")))
    val b2 = emitted(Seq(
      (1L, "v1b", 3L, "+U"), (2L, null, 4L, "-D"), (3L, "v3", 5L, "+I")))
    UpsertSink.mergeInto(spark, b1, Seq("id"), out)
    UpsertSink.mergeInto(spark, b2, Seq("id"), out)
    def state() = spark.read.parquet(out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state() === Set((1L, "v1b"), (3L, "v3")))
    // replaying batch 2 (checkpoint recovery) must not change the state
    UpsertSink.mergeInto(spark, b2, Seq("id"), out)
    assert(state() === Set((1L, "v1b"), (3L, "v3")))
  }

  test("cluster-assignment maintenance through mergeInto: grow, merge, " +
    "split and dissolve across batches, deletes drop the keys") {
    // the cdc_stream_dedup_clusters upsert algebra end to end: batch 1
    // creates {1,2} and {5,6}; batch 2 merges them through bridge doc 3
    // (everyone re-upserts under min id 1); batch 3 deletes the bridge —
    // the cluster SPLITS back: {1,2} and {5,6} re-upsert under their own
    // minima, 3's key is deleted; batch 4 deletes 2 — {1} dissolves:
    // BOTH members' keys are deleted (assignment surface is docs in
    // >=2-doc clusters).
    val out = tmpDir("clusters") + "/state"
    val assignSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("cluster_id", LongType),
      StructField(OpCol, StringType), StructField(OffsetCol, LongType)))
    def ups(bid: Long, rows: Seq[(Long, Long, String)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (d, c, op) =>
          Row(d, c, op, bid)
        }), assignSchema)
    def state(): Set[(Long, Long)] = UpsertSink.readState(spark, out)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    UpsertSink.mergeInto(spark, ups(0L, Seq(
      (1L, 1L, "+I"), (2L, 1L, "+I"), (5L, 5L, "+I"), (6L, 5L, "+I"))),
      Seq("doc_id"), out, numBuckets = 4)
    assert(state() === Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
    UpsertSink.mergeInto(spark, ups(1L, Seq(
      (1L, 1L, "+I"), (2L, 1L, "+I"), (3L, 1L, "+I"), (5L, 1L, "+I"),
      (6L, 1L, "+I"))), Seq("doc_id"), out)
    assert(state() === Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L),
      (6L, 1L)))
    UpsertSink.mergeInto(spark, ups(2L, Seq(
      (1L, 1L, "+I"), (2L, 1L, "+I"), (5L, 5L, "+I"), (6L, 5L, "+I"),
      (3L, 0L, "-D"))), Seq("doc_id"), out)
    assert(state() === Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
    UpsertSink.mergeInto(spark, ups(3L, Seq(
      (1L, 0L, "-D"), (2L, 0L, "-D"))), Seq("doc_id"), out)
    assert(state() === Set((5L, 5L), (6L, 5L)))
    // idempotent replay of the delete batch (checkpoint recovery)
    UpsertSink.mergeInto(spark, ups(3L, Seq(
      (1L, 0L, "-D"), (2L, 0L, "-D"))), Seq("doc_id"), out)
    assert(state() === Set((5L, 5L), (6L, 5L)))
  }

  test("upserts: stateful stream emits newest image per key, delete wins") {
    // file CDC db: 5 rows; update id1 (off1), delete id2 (off2), update id1
    // again (off3) — rate-limited to 1 event per batch so state must carry
    // across micro-batches
    val dir = tmpDir("upserts-db")
    val snapshot = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, payload), StructField(AfterCol, payload)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "u", 10L, "graft", "t", Row(1L, "v1"), Row(1L, "v1a")),
      Row(2L, "d", 20L, "graft", "t", Row(2L, "v2"), null),
      Row(3L, "u", 30L, "graft", "t", Row(1L, "v1a"), Row(1L, "v1b")))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)

    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
    val rows = QueryUtil.drain(
        StreamMaterialize.upserts(stream, Seq("id")), "update")
      .select("k", "off", "op").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // id1 upserted twice (state advanced), id2 deleted
    assert(rows === Set(("""{"id":1}""", 1L, "+U"), ("""{"id":2}""", 2L, "-D"),
      ("""{"id":1}""", 3L, "+U")))
  }

  test("upserts: composite keys with spaces/nulls do not collide") {
    val pl = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))
    val schema = StructType(pl.fields ++ Seq(
      StructField(OpCol, StringType), StructField(OffsetCol, LongType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a b", "c", "+I", 1L, 10L, "db", "t"),
        Row("a", "b c", "+I", 2L, 20L, "db", "t"),
        Row(null, "x", "+I", 3L, 30L, "db", "t"),
        Row("x", null, "+I", 4L, 40L, "db", "t"))), schema)
    // batch path of the same keying: 4 distinct composite keys must stay 4
    val keys = df.select(to_json(struct(col("a"), col("b"))).as("k"))
      .distinct().count()
    assert(keys === 4L)
  }

  test("mergeInto rewrites only touched buckets") {
    val out = tmpDir("sink-buckets") + "/state"
    val n = 8
    // seed every bucket: 64 sequential ids cover all 8 buckets
    val b1 = emitted((1L to 64L).map(i => (i, s"v$i", i, "+I")))
    UpsertSink.mergeInto(spark, b1, Seq("id"), out, numBuckets = n)
    val root = new java.io.File(out)
    def bucketFiles(): Map[String, Set[String]] =
      root.listFiles().filter(_.getName.startsWith("bkt="))
        .map(d => d.getName ->
          d.listFiles().map(f => s"${f.getName}:${f.lastModified}").toSet)
        .toMap
    val before = bucketFiles()
    assert(before.size === n) // all buckets populated
    // one-key batch → exactly one bucket's files may change
    val b2 = emitted(Seq((1L, "v1b", 100L, "+U")))
    UpsertSink.mergeInto(spark, b2, Seq("id"), out, numBuckets = n)
    val after = bucketFiles()
    val changed = before.keySet.filter(k => before(k) != after.getOrElse(k, Set()))
    assert(changed.size === 1, s"expected 1 rewritten bucket, got $changed")
    // and the state is correct
    val st = UpsertSink.readState(spark, out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(st(1L) === "v1b" && st.size === 64)
  }

  test("retractAgg: updates and deletes retract totals across micro-batches") {
    // earliest (log-only) replay, one event per trigger: the update's
    // -U/+U pair lands in batch 1, the delete's -D in batch 2 — the
    // retraction mutates state accumulated in an earlier batch. Deltas for
    // g1: -10 (retract old) +40 (new) -20 (delete) = cnt -1, total 10.
    val dir = tmpDir("retract-db")
    val pay = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", DoubleType)))
    val snapshot = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "g1", 10.0), Row(2L, "g1", 20.0), Row(3L, "g2", 5.0))), pay)
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, pay), StructField(AfterCol, pay)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "u", 10L, "graft", "t", Row(1L, "g1", 10.0), Row(1L, "g1", 40.0)),
      Row(2L, "d", 20L, "graft", "t", Row(2L, "g1", 20.0), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
    val drained = QueryUtil.drain(
      StreamMaterialize.retractAgg(stream, "g", "m"), "update")
    val fin = drained.groupBy(col("g"))
      .agg(max_by(struct(col("cnt"), col("total")), col("ver")).as("v"))
      .collect()
      .map(r => (r.getString(0), (r.getStruct(1).getLong(0),
        r.getStruct(1).getDecimal(1).doubleValue()))).toMap
    assert(fin === Map("g1" -> ((-1L, 10.0))))
    assert(drained.select(max(col("ver"))).collect()(0)
      .getLong(0) >= 2L, "retractions crossed at least two micro-batches")
    // every batch's emission carried a monotone per-group version
    val vers = drained.select("g", "ver").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(vers.groupBy(_._1).forall { case (_, vs) =>
      vs.map(_._2).sorted.sameElements(1L to vs.length) })
  }

  test("retractMinMax: deleting the current extreme promotes the runner-up") {
    // log-only inserts then a delete of the max: the multiset state must
    // fall back to the runner-up — the case two scalars cannot answer
    val dir = tmpDir("retractmm-db")
    val pay = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", DoubleType)))
    val snapshot = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], pay)
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, pay), StructField(AfterCol, pay)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "c", 10L, "graft", "t", null, Row(1L, "g1", 10.0)),
      Row(2L, "c", 20L, "graft", "t", null, Row(2L, "g1", 20.0)),
      Row(3L, "c", 30L, "graft", "t", null, Row(3L, "g1", 40.0)),
      Row(4L, "d", 40L, "graft", "t", Row(3L, "g1", 40.0), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
    val rows = QueryUtil.drain(
        StreamMaterialize.retractMinMax(stream, "g", "m"), "update")
      .select("g", "n", "min_m", "max_m", "ver").collect()
      .map(r => (r.getLong(4), (r.getLong(1),
        Option(r.getDecimal(2)).map(_.doubleValue()),
        Option(r.getDecimal(3)).map(_.doubleValue())))).toMap
    // with one event per trigger the versions replay the multiset history
    assert(rows(3L) === ((3L, Some(10.0), Some(40.0))), rows)
    // delete of the 40.0 max falls back to the 20.0 runner-up
    assert(rows(4L) === ((2L, Some(10.0), Some(20.0))), rows)
  }

  test("kmvSketch: k-minima merge across micro-batches equals batch sketch") {
    // one event per trigger: each insert lands in its own micro-batch, so
    // the k-minima state must merge incrementally; deletes are ignored
    // (insert-only sketch). k=2 here: after 3 inserts the kth (2nd) min of
    // the hash set must equal the batch-computed 2nd smallest.
    val dir = tmpDir("kmv-db")
    val pay = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType)))
    val snapshot = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pay)
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, pay), StructField(AfterCol, pay)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "c", 10L, "graft", "t", null, Row(11L, "g1")),
      Row(2L, "c", 20L, "graft", "t", null, Row(22L, "g1")),
      Row(3L, "c", 30L, "graft", "t", null, Row(33L, "g1")),
      Row(4L, "d", 40L, "graft", "t", Row(22L, "g1"), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
    val drained = QueryUtil.drain(
      StreamMaterialize.kmvSketch(stream, "g", "id", 2), "update")
    import graft.functions.TextFunctions.md5Long
    val hashes = spark.range(1).select(
        md5Long(lit("11")).as("h1"), md5Long(lit("22")).as("h2"),
        md5Long(lit("33")).as("h3"))
      .collect()(0)
    val sorted = Seq(hashes.getLong(0), hashes.getLong(1),
      hashes.getLong(2)).sorted
    val byVer = drained.select("ver", "kth").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toMap
    // after all three inserts the 2nd-smallest hash is the kth minimum
    assert(byVer(3L) === Some(sorted(1)), byVer)
    // the delete batch emitted but did NOT change the sketch
    assert(byVer(4L) === Some(sorted(1)), byVer)
  }

  test("retractQuantile: deleting tail values pulls the upper quantiles down") {
    // $10-wide bins; inserts 5.0 / 15.0 / 25.0 land in bins 0/1/2, then the
    // delete of 25.0 retracts bin 2 — p99 must fall from 20.0 (bin 2 lower
    // bound) to 10.0 while p50 stays
    val dir = tmpDir("retractq-db")
    val pay = StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", DoubleType)))
    val snapshot = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pay)
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, pay), StructField(AfterCol, pay)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "c", 10L, "graft", "t", null, Row(1L, "g1", 5.0)),
      Row(2L, "c", 20L, "graft", "t", null, Row(2L, "g1", 15.0)),
      Row(3L, "c", 30L, "graft", "t", null, Row(3L, "g1", 25.0)),
      Row(4L, "d", 40L, "graft", "t", Row(3L, "g1", 25.0), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
    val byVer = QueryUtil.drain(
        StreamMaterialize.retractQuantile(stream, "g", "m", 1000L), "update")
      .select("ver", "n_net", "p50_est", "p99_est").collect()
      .map(r => (r.getLong(0), (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(byVer(3L) === ((3L, Some(10.0), Some(20.0))), byVer)
    assert(byVer(4L) === ((2L, Some(0.0), Some(10.0))), byVer)
  }

  test("mergeInto pins the bucket count on first write") {
    val out = tmpDir("sink-pin") + "/state"
    val b1 = emitted((1L to 16L).map(i => (i, s"v$i", i, "+I")))
    UpsertSink.mergeInto(spark, b1, Seq("id"), out, numBuckets = 8)
    // a later caller passing a different count must not re-hash stored
    // keys into unreachable buckets: the pinned count wins, so the update
    // still finds (and replaces) its stored row
    val b2 = emitted(Seq((1L, "v1b", 100L, "+U")))
    UpsertSink.mergeInto(spark, b2, Seq("id"), out, numBuckets = 3)
    val st = UpsertSink.readState(spark, out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(st.size === 16 && st(1L) === "v1b")
  }

  test("mergeInto recovers from a crash between the commit moves") {
    val out = tmpDir("sink-crash") + "/state"
    val b1 = emitted(Seq((1L, "v1", 1L, "+I"), (2L, "v2", 2L, "+I")))
    UpsertSink.mergeInto(spark, b1, Seq("id"), out, numBuckets = 4)
    val root = new java.io.File(out)
    // simulate a crash after move-live-aside but before move-staged-in:
    // a bucket exists only as its aside copy
    val live = root.listFiles().filter(_.getName.startsWith("bkt=")).head
    val b = live.getName.stripPrefix("bkt=")
    java.nio.file.Files.move(live.toPath,
      new java.io.File(root, s".old-bkt-$b").toPath)
    // replaying the batch must first restore the aside, then converge
    UpsertSink.mergeInto(spark, b1, Seq("id"), out, numBuckets = 4)
    val st = UpsertSink.readState(spark, out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(st === Set((1L, "v1"), (2L, "v2")))
    assert(!root.listFiles().exists(_.getName.startsWith(".old-bkt-")))
  }

  test("rebucket: state survives a bucket-count change, new pin holds, " +
    "later merges land in the new layout") {
    val out = tmpDir("sink-rebucket") + "/state"
    val b1 = emitted((1L to 40L).map(i => (i, s"v$i", i, "+I")))
    UpsertSink.mergeInto(spark, b1, Seq("id"), out, numBuckets = 4)
    def state() = UpsertSink.readState(spark, out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val before = state()
    UpsertSink.rebucket(spark, out, Seq("id"), 16)
    assert(state() === before)
    val root = new java.io.File(out)
    val dirs = root.listFiles().filter(_.getName.startsWith("bkt=")).length
    assert(dirs > 4, s"expected >4 bucket dirs after rebucket, got $dirs")
    // the pin now reads 16: a later merge must find (and replace) stored
    // rows under the NEW hashing
    val b2 = emitted(Seq((7L, "v7b", 100L, "+U"), (8L, null, 101L, "-D")))
    UpsertSink.mergeInto(spark, b2, Seq("id"), out, numBuckets = 4)
    val after = state()
    assert(after(7L) === "v7b")
    assert(!after.contains(8L))
    assert(after.size === 39)
  }

  test("rebucket crash windows: pre-swap leftovers discarded, mid-swap " +
    "READY staging installed by the next merge") {
    val out = tmpDir("sink-rebucket-crash") + "/state"
    val b1 = emitted(Seq((1L, "v1", 1L, "+I"), (2L, "v2", 2L, "+I")))
    UpsertSink.mergeInto(spark, b1, Seq("id"), out, numBuckets = 2)
    val root = new java.io.File(out)
    val staging = new java.io.File(out + ".rebucket-staging")
    def state() = UpsertSink.readState(spark, out).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // crash BEFORE the swap: a READY staging beside a live root — the
    // next merge discards it and the live state wins
    staging.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staging, "_REBUCKET_READY").toPath,
      Array.empty[Byte])
    UpsertSink.mergeInto(spark,
      emitted(Seq((3L, "v3", 3L, "+I"))), Seq("id"), out)
    assert(!staging.exists())
    assert(state() === Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
    // crash MID-swap: root moved aside, READY staging not yet installed —
    // simulate by staging a complete new layout and removing the root
    UpsertSink.rebucket(spark, out, Seq("id"), 8) // produces a clean root
    val aside = new java.io.File(out + ".rebucket-aside")
    java.nio.file.Files.move(root.toPath, aside.toPath)
    // build a READY staging from the aside copy (same complete layout)
    copyRecursively(aside, staging)
    java.nio.file.Files.write(
      new java.io.File(staging, "_REBUCKET_READY").toPath,
      Array.empty[Byte])
    UpsertSink.mergeInto(spark,
      emitted(Seq((4L, "v4", 4L, "+I"))), Seq("id"), out)
    assert(state() === Set((1L, "v1"), (2L, "v2"), (3L, "v3"), (4L, "v4")))
    assert(!staging.exists() && !aside.exists())
  }

  private def copyRecursively(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      val fs = src.listFiles()
      if (fs != null) fs.foreach(f =>
        copyRecursively(f, new java.io.File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
  }

  test("scd2ClosedStream: versions close append-only, open state crosses " +
      "micro-batches, delete-without-open is a no-op") {
    import graft.queries.StreamingQueries
    import StreamingQueries.{Scd2Closed, Scd2Ev}
    val dir = tmpDir("scd2-db")
    val pay = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    val snapshot = Seq((9L, 0.0)).toDF("id", "price") // untouched key
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, pay), StructField(AfterCol, pay)))
    // id1: open(u@10) -> close at u@20 -> close at d@30; id2: lone delete
    // (no open version in log-replay) must emit nothing; id3: open only
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(10L, "u", 0L, "graft", "t", Row(1L, 1.0), Row(1L, 2.0)),
      Row(15L, "d", 0L, "graft", "t", Row(2L, 5.0), null),
      Row(20L, "u", 0L, "graft", "t", Row(1L, 2.0), Row(1L, 3.0)),
      Row(25L, "c", 0L, "graft", "t", null, Row(3L, 7.0)),
      Row(30L, "d", 0L, "graft", "t", Row(1L, 3.0), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snapshot, changes,
      force = true)
    // 1 event per trigger: every open version must survive in state across
    // a micro-batch boundary before it closes
    val evs = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
      .filter(col(OpCol) =!= RowKind.UpdateBefore)
      .select(col("id").as("k"), col(OffsetCol).as("off"),
        col(OpCol).as("op"), col("price").as("price"))
      .as[Scd2Ev]
    val got = QueryUtil.drain(StreamingQueries.scd2ClosedStream(evs))
      .as[Scd2Closed].collect().toSet
    assert(got === Set(
      Scd2Closed(1L, 2.0, 10L, 20L),
      Scd2Closed(1L, 3.0, 20L, 30L)), got)
  }
}
