package graft

import graft.cdc.ChangeRecord._
import graft.cdc.{FileCdcDatabase, Materialize}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** End-to-end DSv2 source tests on a handcrafted file CDC database:
  * batch startup modes, chunked snapshot coverage, and the exactly-once
  * restart guarantee (offset-log replay produces no loss and no dups —
  * the reference's FailoverType.{TM,JM} ITCases, SURVEY §5.3). */
class CdcSourceSpec extends SparkSpecBase {

  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def snapshotDf: DataFrame =
    (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")

  /** Envelope rows: (offset, op, before, after). */
  private def changesDf(rows: Seq[(Long, String, Option[(Long, String)], Option[(Long, String)])]): DataFrame = {
    val schema = envelopeSchema(payload)
    val data = rows.map { case (off, op, before, after) =>
      Row(off, op, off * 10L, "graft", "t",
        before.map { case (i, v) => Row(i, v) }.orNull,
        after.map { case (i, v) => Row(i, v) }.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data), schema)
  }

  private val allEvents = Seq(
    (1L, "u", Some((1L, "v1")), Some((1L, "v1b"))),
    (2L, "d", Some((2L, "v2")), None),
    (3L, "c", None, Some((21L, "v21"))),
    (4L, "u", Some((3L, "v3")), Some((3L, "v3b"))),
    (5L, "d", Some((21L, "v21")), None),
    (6L, "c", None, Some((22L, "v22"))))

  private def writeDb(dir: String, upToOffset: Long): Unit =
    FileCdcDatabase.write(spark, dir, "t", "graft", "id",
      snapshot = snapshotDf,
      changes = changesDf(allEvents.filter(_._1 <= upToOffset)),
      snapshotPartitions = 2, force = true)

  private def read(dir: String, mode: String): DataFrame =
    spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", mode)
      .option("scan.incremental.snapshot.chunk.size", "5")
      .load()

  /** Expected state after all 6 events. */
  private val finalState: Set[(Long, String)] =
    ((1L to 20L).toSet - 2L).map {
      case 1L => (1L, "v1b"); case 3L => (3L, "v3b")
      case i => (i, s"v$i")
    } + ((22L, "v22"))

  test("batch initial: chunked snapshot merged with the full log") {
    val dir = tmpDir("cdc-batch")
    writeDb(dir, 6L)
    val rows = read(dir, "initial")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === rows.distinct.length, "no duplicate keys")
    assert(rows.toSet === finalState)
    // merged rows surface as snapshot inserts
    val ops = read(dir, "initial").select(OpCol).distinct()
      .collect().map(_.getString(0)).toSet
    assert(ops === Set("+I"))
  }

  test("snapshot partition cap: grouped chunks read identically") {
    val dir = tmpDir("cdc-cap")
    writeDb(dir, 6L)
    // chunk.size=5 over ids 1..20 -> 4 chunks; cap to 2 partitions
    val capped = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.incremental.snapshot.chunk.size", "5")
      .option("scan.snapshot.max-partitions", "2")
      .load()
    assert(capped.rdd.getNumPartitions === 2)
    val rows = capped.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === rows.distinct.length, "no duplicate keys")
    assert(rows.toSet === finalState)
  }

  test("chunk-key filter pushdown: point lookup plans a single chunk") {
    val dir = tmpDir("cdc-pushdown")
    writeDb(dir, 6L)
    // chunk.size=5 over ids 1..20 -> 4 chunks
    val lookup = read(dir, "initial").filter("id = 17")
    assert(lookup.rdd.getNumPartitions === 1, "one overlapping chunk")
    assert(lookup.select("id", "v").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((17L, "v17")))
    // range predicate: 2 of 4 chunks; results identical to post-filtering
    val ranged = read(dir, "initial").filter("id >= 6 AND id < 15")
    assert(ranged.rdd.getNumPartitions === 2)
    val want = finalState.filter(kv => kv._1 >= 6 && kv._1 < 15)
    assert(ranged.select("id", "v").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet === want)
    // updated key inside the range still reflects the log merge
    assert(want.contains((14L, "v14")))
  }

  test("batch earliest: full changelog replay with retract rows") {
    val dir = tmpDir("cdc-earliest")
    writeDb(dir, 6L)
    val out = read(dir, "earliest")
    val byOp = out.groupBy(OpCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 2 updates -> 2(-U)+2(+U); 2 deletes; 2 inserts
    assert(byOp === Map("+I" -> 2L, "-U" -> 2L, "+U" -> 2L, "-D" -> 2L))
  }

  test("batch latest: empty (stream would start at the log head)") {
    val dir = tmpDir("cdc-latest")
    writeDb(dir, 6L)
    assert(read(dir, "latest").count() === 0L)
  }

  test("newly-added table: restart snapshots tables that newly match the regex") {
    val dir = tmpDir("cdc-newtable")
    val out = tmpDir("cdc-newtable-out")
    val ckpt = tmpDir("cdc-newtable-ckpt")

    def writeTable(name: String, ids: Range): Unit =
      FileCdcDatabase.write(spark, dir, name, "graft", "id",
        snapshot = ids.map(i => (i.toLong, s"$name-v$i")).toDF("id", "v"),
        changes = changesDf(Seq.empty), force = true)

    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).option("table", "t[0-9]")
        .option("scan.startup.mode", "initial")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    writeTable("t1", 1 to 5)
    runStream()
    assert(spark.read.parquet(out).count() === 5L)

    writeTable("t2", 10 to 16) // new table now matches t[0-9]
    runStream()                // resume: t2 snapshot only, no t1 re-read

    val all = spark.read.parquet(out)
    assert(all.count() === 12L)
    val byTable = all.groupBy(TableCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTable === Map("t1" -> 5L, "t2" -> 7L))
  }

  test("schema evolution across restart: widened schema, pre-DDL rows null") {
    val dir = tmpDir("cdc-evolve")
    val ckpt = tmpDir("cdc-evolve-ckpt")
    val collected = scala.collection.mutable.ArrayBuffer[(StructType, Seq[Row])]()

    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.incremental.snapshot.chunk.size", "5")
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          collected.synchronized {
            collected += ((batch.schema, batch.collect().toSeq))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // phase 1: base schema, events 1..3
    writeDb(dir, 3L)
    runStream()
    assert(collected.forall(!_._1.fieldNames.contains("note")))
    val phase1Rows = collected.map(_._2.size).sum

    // phase 2: same log plus ALTER TABLE ADD COLUMN note at offset 7 and a
    // post-DDL update at offset 8 setting note on id 4
    val payload2 = StructType(payload.fields :+ StructField("note", StringType))
    val env2 = StructType(envelopeSchema(payload2).fields ++ Seq(
      StructField(DdlCol, StringType), StructField(SchemaDdlCol, StringType)))
    def img(id: Long, v: String, note: String) = Row(id, v, note)
    val log2 = allEvents.map { case (off, op, b, a) =>
      Row(off, op, off * 10L, "graft", "t",
        b.map { case (i, v) => img(i, v, null) }.orNull,
        a.map { case (i, v) => img(i, v, null) }.orNull, null, null)
    } ++ Seq(
      Row(7L, "ddl", 70L, "graft", "t", null, null,
        "ALTER TABLE t ADD COLUMN note STRING", payload2.toDDL),
      Row(8L, "u", 80L, "graft", "t",
        img(4L, "v4", null), img(4L, "v4", "annotated"), null, null))
    FileCdcDatabase.write(spark, dir, "t", "graft", "id",
      snapshot = snapshotDf,
      changes = spark.createDataFrame(
        spark.sparkContext.parallelize(log2), env2),
      snapshotPartitions = 2, force = true)

    runStream() // restart re-derives the widened schema from the history

    val phase2 = collected.drop(collected.indexWhere(
      _._1.fieldNames.contains("note")))
    assert(phase2.nonEmpty, "restarted run must analyze the widened schema")
    val rows2 = phase2.flatMap { case (sc, rs) =>
      rs.map(r => (r.getLong(sc.fieldIndex("id")),
        r.getString(sc.fieldIndex("v")),
        r.getString(sc.fieldIndex("note")),
        r.getLong(sc.fieldIndex(OffsetCol)),
        r.getString(sc.fieldIndex(OpCol))))
    }
    // events 4..6 replay with note = null; the DDL record itself never
    // surfaces as a data row; offset 8 carries the note
    assert(rows2.map(_._4).toSet === Set(4L, 5L, 6L, 8L))
    assert(rows2.filter(_._4 < 7L).forall(_._3 == null))
    val noted = rows2.filter(r => r._4 == 8L && r._5 == RowKind.UpdateAfter)
    assert(noted.map(r => (r._1, r._2, r._3)) === Seq((4L, "v4", "annotated")))
    assert(phase1Rows > 0)
  }

  test("restart exactly-once: snapshot batch, stop, more log, resume") {
    val dir = tmpDir("cdc-restart")
    val out = tmpDir("cdc-restart-out")
    val ckpt = tmpDir("cdc-restart-ckpt")

    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.incremental.snapshot.chunk.size", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    writeDb(dir, 3L) // phase 1: events 1..3 visible
    runStream()
    val phase1 = spark.read.parquet(out)
    assert(phase1.agg(org.apache.spark.sql.functions.max(OffsetCol))
      .collect()(0).getLong(0) === 3L)
    val p1Keys = phase1.select("id").collect().map(_.getLong(0))
    assert(p1Keys.length === p1Keys.distinct.length)

    writeDb(dir, 6L) // phase 2: full log now present
    runStream()      // resumes from committed offset 3

    val all = spark.read.parquet(out)
    // exactly-once: offsets (3,6] appear exactly once each (+U/-U double rows
    // for the one update at offset 4)
    val tail = all.filter(s"$OffsetCol > 3")
      .groupBy(OffsetCol, OpCol).count().collect()
    assert(tail.forall(_.getLong(2) === 1L), tail.mkString(","))
    assert(tail.map(_.getLong(0)).toSet === Set(4L, 5L, 6L))

    // and the materialized end state is the true final state
    val state = Materialize.materialize(all, Seq("id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state.toSet === finalState)
    assert(state.length === state.distinct.length)
  }

  test("failover mid-snapshot: kill with a batch in flight, resume = identical") {
    // parity with the reference's TM-kill × SNAPSHOT phase ITCase
    // (MySqlSourceITCase.java:149-209): the first attempt dies when the
    // SECOND snapshot reader opens — earlier partitions have already
    // produced rows into the in-flight batch, which must be discarded
    // whole. The restart replays from the (empty) committed offset log
    // and the end state is identical to an uninterrupted run, no dups.
    import graft.cdc.source.ReaderFailureInjection
    val dir = tmpDir("cdc-fo-snap")
    val out = tmpDir("cdc-fo-snap-out")
    val ckpt = tmpDir("cdc-fo-snap-ckpt")
    writeDb(dir, 6L)

    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.incremental.snapshot.chunk.size", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    ReaderFailureInjection.snapshotCountdown.set(1) // 2nd reader throws
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runStream()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).toSeq
      assert(chain(e).exists(m => m != null && m.contains("injected")),
        chain(e).mkString(" | "))
    } finally ReaderFailureInjection.snapshotCountdown.set(-1)

    runStream() // resume: batch re-planned from clean offsets
    // the file sink's metadata log hides the failed attempt's orphans
    val all = spark.read.parquet(out)
    val perKey = all.groupBy("id", OffsetCol, OpCol).count().collect()
    assert(perKey.forall(_.getLong(3) === 1L),
      perKey.filter(_.getLong(3) > 1L).mkString(","))
    val state = Materialize.materialize(all, Seq("id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state.toSet === finalState)
    assert(state.length === state.distinct.length)
  }

  test("failover mid-log-phase: kill during replay, resume exactly-once") {
    // TM-kill × BINLOG phase: snapshot drains cleanly; the log tail
    // arrives, and the replaying batch is killed at its first log reader
    // with the batch uncommitted. The restart must emit offsets (3,6]
    // exactly once each.
    import graft.cdc.source.ReaderFailureInjection
    val dir = tmpDir("cdc-fo-log")
    val out = tmpDir("cdc-fo-log-out")
    val ckpt = tmpDir("cdc-fo-log-ckpt")

    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.incremental.snapshot.chunk.size", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    writeDb(dir, 3L)
    runStream() // clean snapshot phase over events 1..3
    writeDb(dir, 6L)
    ReaderFailureInjection.logCountdown.set(0) // 1st log reader throws
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runStream()
      }
    } finally ReaderFailureInjection.logCountdown.set(-1)

    runStream() // resume from committed offset 3
    val all = spark.read.parquet(out)
    val tail = all.filter(s"$OffsetCol > 3")
      .groupBy(OffsetCol, OpCol).count().collect()
    assert(tail.forall(_.getLong(2) === 1L), tail.mkString(","))
    assert(tail.map(_.getLong(0)).toSet === Set(4L, 5L, 6L))
    val state = Materialize.materialize(all, Seq("id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state.toSet === finalState)
  }

  test("store-native region boundaries drive the snapshot split") {
    val dir = tmpDir("cdc-regions")
    // store reports regions at 6 and 14 (plus out-of-span noise)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id",
      snapshot = snapshotDf, changes = changesDf(allEvents), force = true,
      regionBoundaries = Seq(-100L, 6L, 14L, 999L))
    val cfg = graft.cdc.source.CdcSourceConfig(path = dir, table = "t",
      startupMode = "initial", chunkSize = 5, changelogMode = "all")
    val chunks = graft.cdc.source.CdcPlanner.chunks(cfg, "t")
    assert(chunks.map(c => (c.lo, c.hi)) === Seq(
      (None, Some(6L)), (Some(6L), Some(14L)), (Some(14L), None)))
    // end-to-end read over region-aligned chunks is still exactly-once
    val rows = read(dir, "initial").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet === finalState)
    assert(rows.length === rows.distinct.length)
  }

  test("runtime filtering: an IN-set from a join prunes snapshot chunks") {
    val dir = tmpDir("cdc-runtime")
    writeDb(dir, 0L)
    val cfg = graft.cdc.source.CdcSourceConfig(path = dir, table = "t",
      startupMode = "initial", chunkSize = 5, changelogMode = "all")
    val schema = graft.cdc.source.CdcTable.fullSchema(cfg.payloadSchema)
    def partitions(scan: graft.cdc.source.CdcScan) =
      scan.toBatch.planInputPartitions().length
    val unfiltered = new graft.cdc.source.CdcScan(cfg, schema)
    val all = partitions(unfiltered)
    assert(all === 4) // 20 keys / 5-key chunks
    // runtime join filter arrives as In(chunkKey, values)
    val filtered = new graft.cdc.source.CdcScan(cfg, schema)
    assert(filtered.filterAttributes().map(_.describe()).toSeq === Seq("id"))
    filtered.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(6L, 7L, 9L))))
    val pruned = partitions(filtered)
    assert(pruned === 1, s"expected 1 surviving chunk, got $pruned")
    // non-key filters are ignored, not misapplied
    val other = new graft.cdc.source.CdcScan(cfg, schema)
    other.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("v", Array("x"))))
    assert(partitions(other) === all)
  }

  test("chunk-key override: split by a non-pk key-stable column") {
    val dir = tmpDir("cdc-ckey")
    val pl = StructType(Seq(StructField("id", LongType),
      StructField("k2", LongType), StructField("v", StringType)))
    // k2 reverses the id order → chunking by k2 ≠ chunking by id
    val snap = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 20L).map(i =>
        Row(i, 1000L - i, s"v$i"))), pl)
    val env = envelopeSchema(pl)
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "u", 10L, "graft", "t", Row(3L, 997L, "v3"), Row(3L, 997L, "v3b")),
      Row(2L, "d", 20L, "graft", "t", Row(7L, 993L, "v7"), null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id", snap, changes,
      snapshotPartitions = 2, force = true)
    def readWith(opts: Map[String, String]) = {
      val r = spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.incremental.snapshot.chunk.size", "5")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load()
    }
    val expect = readWith(Map.empty).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val overridden = readWith(
      Map("scan.incremental.snapshot.chunk-key.column" -> "k2"))
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(overridden === expect)
    assert(expect.contains((3L, "v3b")) && !expect.exists(_._1 == 7L))
    // invalid override columns rejected at scan start
    val missing = intercept[Exception](
      readWith(Map("scan.incremental.snapshot.chunk-key.column" -> "nope"))
        .count())
    assert(missing.getMessage.contains("key-column"))
    val nonIntegral = intercept[Exception](
      readWith(Map("scan.incremental.snapshot.chunk-key.column" -> "v"))
        .count())
    assert(nonIntegral.getMessage.contains("integral"))
  }

  test("bounded offset: batch returns the state as of the bound") {
    val dir = tmpDir("cdc-bounded")
    writeDb(dir, 6L)
    def stateAt(bound: Long): Set[(Long, String)] =
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.bounded.offset", bound.toString)
        .option("scan.incremental.snapshot.chunk.size", "5")
        .load()
        .select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val base = (1L to 20L).map(i => (i, s"v$i")).toSet
    // bound 0: pure snapshot, no change applied
    assert(stateAt(0L) === base)
    // bound 2: update(1) + delete(2) applied, nothing later
    assert(stateAt(2L) === base - ((1L, "v1")) - ((2L, "v2")) + ((1L, "v1b")))
    // bound 4: + insert(21) and update(3)
    assert(stateAt(4L) ===
      base - ((1L, "v1")) - ((2L, "v2")) + ((1L, "v1b")) +
        ((21L, "v21")) - ((3L, "v3")) + ((3L, "v3b")))
    // bound past the head == unbounded final state
    assert(stateAt(100L) === finalState)
    // earliest replay bounded: only events with offset <= bound
    val ops = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.bounded.offset", "3")
      .load()
      .select(OffsetCol).collect().map(_.getLong(0)).toSet
    assert(ops === Set(1L, 2L, 3L))
  }

  test("bounded offset: schema is the schema AS OF the bound (DDL excluded/included)") {
    // log: update(1) → DDL at offset 3 adds `note` → update(4) sets note
    val dir = tmpDir("cdc-bounded-ddl")
    val widened = StructType(payload.fields :+ StructField("note", StringType))
    val env = StructType(Seq(
      StructField(OffsetCol, LongType), StructField(OpCol, StringType),
      StructField(TsCol, LongType), StructField(DbCol, StringType),
      StructField(TableCol, StringType),
      StructField(BeforeCol, widened), StructField(AfterCol, widened),
      StructField(DdlCol, StringType), StructField(SchemaDdlCol, StringType)))
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "u", 10L, "graft", "t",
        Row(1L, "v1", null), Row(1L, "v1a", null), null, null),
      Row(3L, "ddl", 30L, "graft", "t", null, null,
        "ALTER TABLE t ADD COLUMN note STRING", widened.toDDL),
      Row(4L, "u", 40L, "graft", "t",
        Row(2L, "v2", null), Row(2L, "v2b", "n2"), null, null))), env)
    FileCdcDatabase.write(spark, dir, "t", "graft", "id",
      snapshot = snapshotDf, changes = changes, force = true)
    def boundedSchema(bound: Long) =
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "initial")
        .option("scan.bounded.offset", bound.toString)
        .load().schema.fieldNames.toSet
    // before the DDL: note must NOT leak into the bounded schema
    assert(!boundedSchema(2L).contains("note"))
    // at the DDL offset (inclusive bound) and past it: widened
    assert(boundedSchema(3L).contains("note"))
    val rows = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.bounded.offset", "4")
      .load().select("id", "v", "note").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows.contains((2L, "v2b", "n2")), "post-DDL update applied")
    assert(rows.contains((1L, "v1a", null)), "pre-DDL row decodes note=null")
  }

  test("bounded offset: a stream drains to the bound and idles there") {
    val dir = tmpDir("cdc-bounded-stream")
    writeDb(dir, 6L)
    val name = s"bounded_${System.nanoTime()}"
    val q = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("scan.bounded.offset", "4")
      .option("scan.stream.max-events-per-trigger", "2")
      .load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val offs = spark.table(name).select(OffsetCol)
      .collect().map(_.getLong(0)).toSet
    assert(offs === Set(1L, 2L, 3L, 4L), "drained exactly to the bound")
  }

  test("source metrics: offsets + currentFetchEventTimeLag in progress") {
    // reference SourceReaderMetrics surface: the progress report must
    // carry the consumed/head offsets and the event-time lag (wall clock
    // minus newest consumed __ts_ms; ChangelogGen stamps ts = offset here)
    val dir = tmpDir("cdc-metrics")
    writeDb(dir, 6L)
    val name = s"metrics_${System.nanoTime()}"
    val q = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.sources.nonEmpty)
    assert(progress.nonEmpty, "no source progress recorded")
    val m = progress.last.sources.head.metrics
    assert(m.get("logHeadOffset") === "6")
    assert(m.get("consumedOffset") === "6")
    assert(m.get("pendingOffsets") === "0")
    // events carry ts ≈ offset (millis, ancient) → lag is ~now, certainly
    // positive and finite; -1 would mean the seek failed
    val lag = m.get("currentFetchEventTimeLag").toLong
    assert(lag > 0L, s"expected a positive event-time lag, got $lag")
    graft.QueryUtil.detachMemorySink(spark, name)
  }

  test("per-reader resource scopes: one reader's sweep leaves the other open") {
    val dir = tmpDir("cdc-scopes")
    val f = new java.io.File(dir, "x.jsonl")
    java.nio.file.Files.write(f.toPath,
      "a\nb\nc\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val s1 = new FileCdcDatabase.ResourceScope
    val s2 = new FileCdcDatabase.ResourceScope
    // two lazily-consumed iterators attributed to different reader scopes
    // on the SAME thread (the interleaved-readers-per-task-thread case)
    val it1 = FileCdcDatabase.inScope(s1)(FileCdcDatabase.lines(f.getPath))
    val it2 = FileCdcDatabase.inScope(s2)(FileCdcDatabase.lines(f.getPath))
    assert(it1.next() === "a")
    assert(it2.next() === "a")
    s1.closeAll()
    assert(!it1.hasNext) // swept by its own scope
    assert(it2.next() === "b") // untouched by the other scope's sweep
    s2.closeAll()
    assert(!it2.hasNext)
  }

  test("parallel log decode: sub-ranges tile and results are unchanged") {
    // planner math: exact tiling, never more ranges than offsets
    assert(graft.cdc.source.CdcPlanner.logRanges(0L, 6L, 3)
      === Seq((0L, 2L), (2L, 4L), (4L, 6L)))
    assert(graft.cdc.source.CdcPlanner.logRanges(3L, 5L, 8)
      === Seq((3L, 4L), (4L, 5L)))
    assert(graft.cdc.source.CdcPlanner.logRanges(3L, 3L, 8) === Seq.empty)
    // overflow-safe boundary math: a near-Long-wide span (where the naive
    // (to-from)*i intermediate overflows) must still tile exactly
    val wide = graft.cdc.source.CdcPlanner.logRanges(
      Long.MinValue / 2, Long.MaxValue / 2, 4)
    assert(wide.head._1 === Long.MinValue / 2)
    assert(wide.last._2 === Long.MaxValue / 2)
    assert(wide.forall { case (lo, hi) => hi > lo })
    assert(wide.zip(wide.tail).forall { case ((_, h), (l, _)) => h == l })

    // two-table regex source: decode parallelism = tables × sub-ranges
    val dir = tmpDir("cdc-logpar")
    Seq("t1", "t2").foreach { t =>
      FileCdcDatabase.write(spark, dir, t, "graft", "id",
        snapshot = snapshotDf, changes = changesDf(allEvents), force = true)
    }
    def earliest(parts: Int) = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t[12]")
      .option("scan.startup.mode", "earliest")
      .option("scan.stream.log-partitions", parts.toString)
      .load()
    val serial = earliest(1)
    val fanned = earliest(3)
    assert(serial.rdd.getNumPartitions === 2) // one per table
    assert(fanned.rdd.getNumPartitions === 6) // 2 tables × 3 sub-ranges
    val key = Seq(OffsetCol, OpCol, "id", "v")
    assert(fanned.select(key.head, key.tail: _*).collect().toSet
      === serial.select(key.head, key.tail: _*).collect().toSet)
  }

  test("quick field scan: top-level only, never fooled by nesting or strings") {
    import FileCdcDatabase.{quickLongFieldOpt, quickNestedLongFieldOpt}
    // top-level match
    assert(quickLongFieldOpt("""{"__offset":42,"v":"x"}""", "__offset")
      === Some(42L))
    // same-named key in an EARLIER nested struct must not win
    assert(quickLongFieldOpt(
      """{"before":{"__offset":7},"__offset":42}""", "__offset") === Some(42L))
    // key text inside a string VALUE must not match at all
    assert(quickLongFieldOpt(
      """{"note":"contains \"id\":123 text","id":9}""", "id") === Some(9L))
    assert(quickLongFieldOpt("""{"note":"\"id\":123"}""", "id") === None)
    // non-integer value → None (caller full-parses)
    assert(quickLongFieldOpt("""{"id":"x"}""", "id") === None)
    // nested variant: finds the pk inside before/after (key position only)
    assert(quickNestedLongFieldOpt(
      """{"__op":"u","before":{"id":5,"v":"a"},"after":{"id":5,"v":"b"}}""",
      "id") === Some(5L))
    assert(quickNestedLongFieldOpt(
      """{"v":"look \"id\":99 here","after":{"id":5}}""", "id") === Some(5L))
  }

  test("a sorted window closes its file at the window's end") {
    val dir = tmpDir("closing-it")
    val f = new java.io.File(dir, "x.jsonl")
    java.nio.file.Files.writeString(f.toPath,
      (1 to 100).map(i => s"""{"n":$i}""").mkString("\n"))
    // descriptors of this process open on the file
    def openOnFile(): Int = {
      val fds = new java.io.File("/proc/self/fd").listFiles()
      fds.count(fd => scala.util.Try(java.nio.file.Files.readSymbolicLink(
        fd.toPath).toString).toOption.contains(f.getCanonicalPath))
    }
    val key = (l: String) => FileCdcDatabase.quickLongField(l, "n")
    val src = FileCdcDatabase.sortedLines(f.getPath, Some(41L), Some(44L), key)
    assert(src.next() === """{"n":41}""")
    assert(openOnFile() === 1)
    assert(src.toList === Seq("""{"n":42}""", """{"n":43}"""))
    // the window's end closed the file although 57 lines follow it
    assert(openOnFile() === 0)
  }

  test("snapshot read metrics: every line read once, routed backfill") {
    val dir = tmpDir("cdc-scan-metrics")
    writeDb(dir, 6L)
    val df = read(dir, "initial")
    df.collect()
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))
    def metric(n: String): Long = scan.metrics(n).value
    // chunks of 5 over 20 snapshot rows: each line in exactly one window
    assert(metric("snapshotLinesRead") === 20L)
    assert(metric("snapshotRowsEmitted") === finalState.size.toLong)
    // the 6-event log is routed once (one executor) and each span decodes
    // only its own events
    assert(metric("backfillLinesRouted") === 6L)
    assert(metric("backfillLinesDecoded") === 6L)
    assert(metric("snapshotChunksRead") === 4L)
  }

  test("snapshotChunksRead: every planned chunk, across grouped tasks") {
    val dir = tmpDir("cdc-chunks-metric")
    writeDb(dir, 6L)
    val df = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.incremental.snapshot.chunk.size", "2")
      .load()
    df.collect()
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))
    val cfg = graft.cdc.source.CdcSourceConfig(path = dir, table = "t",
      startupMode = "initial", chunkSize = 2, changelogMode = "all")
    val planned = graft.cdc.source.CdcPlanner.chunks(cfg, "t").size
    val tasks = scan.inputRDD.getNumPartitions
    assert(scan.metrics("snapshotChunksRead").value === planned.toLong)
    assert(planned > tasks, s"$planned chunks in $tasks tasks")
    assert(df.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === finalState)
  }

  test("offsetsBetween honors the enumeration limit") {
    val dir = tmpDir("cdc-limit")
    writeDb(dir, 6L)
    val d = graft.cdc.dialect.FileCdcDialect
    assert(d.offsetsBetween(dir, Seq("t"), 0L, 6L) === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(d.offsetsBetween(dir, Seq("t"), 2L, 6L, limit = 2) === Seq(3L, 4L))
    assert(d.offsetsBetween(dir, Seq("t"), 6L, 6L) === Seq.empty)
  }

  test("max-events-per-trigger rejects values past Int.MaxValue") {
    val dir = tmpDir("cdc-clamp")
    writeDb(dir, 3L)
    val e = intercept[Exception] {
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "earliest")
        .option("scan.stream.max-events-per-trigger",
          (Int.MaxValue.toLong + 1).toString)
        .load().count()
    }
    assert(e.getMessage.contains("max-events-per-trigger"))
  }

  test("changelog.mode=upsert rejected when the table has no primary key") {
    val dir = tmpDir("cdc-nopk")
    writeDb(dir, 3L)
    // simulate a keyless table: blank the pk in meta.json
    val metaPath = java.nio.file.Paths.get(dir, "t", "meta.json")
    val meta = java.nio.file.Files.readString(metaPath)
    java.nio.file.Files.writeString(metaPath,
      meta.replace("\"pk\":\"id\"", "\"pk\":\"\""))
    val e = intercept[Exception] {
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "earliest")
        .option("changelog.mode", "upsert")
        .load().count()
    }
    assert(e.getMessage.contains("upsert"), e.getMessage)
  }

  test("scan.exclude-columns drops payload columns at the source") {
    val dir = tmpDir("cdc-excl")
    writeDb(dir, 6L)
    val df = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.exclude-columns", "v")
      .load()
    assert(!df.schema.fieldNames.contains("v"), df.schema.treeString)
    // rows still merge to the same final state, keyed on the surviving pk
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids === finalState.map(_._1))
  }

  test("scan.exclude-columns refuses the primary/chunk key and unknowns") {
    val dir = tmpDir("cdc-excl-pk")
    writeDb(dir, 3L)
    def readExcl(cols: String) = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.exclude-columns", cols)
      .load().count()
    val pk = intercept[Exception](readExcl("id"))
    assert(pk.getMessage.contains("primary/chunk key"), pk.getMessage)
    val unk = intercept[Exception](readExcl("nope"))
    assert(unk.getMessage.contains("unknown columns"), unk.getMessage)
  }

  test("debezium column masks redact every emitted image at the source") {
    val dir = tmpDir("cdc-mask")
    writeDb(dir, 6L)
    // truncate: final state carries clipped values for every surviving row,
    // including log-inserted (22) and log-updated (1, 3) keys
    val trunc = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("debezium.column.truncate.to.2.chars", "v")
      .load().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(trunc(1L) === "v1" && trunc(22L) === "v2" && trunc(10L) === "v1",
      trunc.toString)
    // hash: earliest (log-only) replay — BOTH images of an update event are
    // redacted, and equal plaintext hashes to equal tokens
    val hashed = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("debezium.column.mask.hash.sha-256.with.salt.k", "v")
      .load().select("v").collect().map(_.getString(0))
    assert(hashed.forall(v => v.matches("[0-9a-f]{64}")), hashed.mkString(","))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update("kv1b".getBytes("UTF-8"))
    val expect = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hashed.contains(expect))
    // the salt is user text embedded in the OPTION KEY: its case must be
    // preserved (a lower-cased salt would hash every value wrongly)
    val mixedSalt = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("debezium.column.mask.hash.sha-256.with.salt.Xy9", "v")
      .load().select("v").collect().map(_.getString(0))
    val md2 = java.security.MessageDigest.getInstance("SHA-256")
    md2.update("Xy9v1b".getBytes("UTF-8"))
    val expectMixed = md2.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(mixedSalt.contains(expectMixed),
      "mixed-case salt was not preserved through option parsing")
    // constant-width mask
    val masked = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("debezium.column.mask.with.4.chars", "v")
      .load().select("v").distinct().collect().map(_.getString(0))
    assert(masked.toSeq === Seq("****"))
    // Debezium's v2 hash spelling is a valid upstream passthrough option:
    // same salted-digest semantics (this engine always digests
    // UTF-8(salt) ++ UTF-8(value), which IS the v2 contract)
    val hashedV2 = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("debezium.column.mask.hash.v2.sha-256.with.salt.k", "v")
      .load().select("v").collect().map(_.getString(0))
    assert(hashedV2.toSeq.sorted === hashed.toSeq.sorted,
      "v2 hash spelling must produce the v1 salted digests")
  }

  test("debezium column masks fail fast on bad rules") {
    val dir = tmpDir("cdc-mask-bad")
    writeDb(dir, 3L)
    def readMask(key: String, cols: String) = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option(key, cols)
      .load().count()
    val pk = intercept[Exception](
      readMask("debezium.column.mask.with.3.chars", "id"))
    assert(pk.getMessage.contains("non-STRING") ||
      pk.getMessage.contains("primary/chunk key"), pk.getMessage)
    val unk = intercept[Exception](
      readMask("debezium.column.truncate.to.3.chars", "nope"))
    assert(unk.getMessage.contains("unknown"), unk.getMessage)
    val algo = intercept[Exception](
      readMask("debezium.column.mask.hash.crc32.with.salt.s", "v"))
    assert(algo.getMessage.contains("unsupported mask hash algorithm"),
      algo.getMessage)
    val gram = intercept[Exception](
      readMask("debezium.column.mask.by.3.chars", "v"))
    assert(gram.getMessage.contains("unrecognized debezium column mask"),
      gram.getMessage)
    // a tab in the salt would break the executor-side wire decode — must
    // fail at analysis with a message naming the rule
    val tab = intercept[Exception](
      readMask("debezium.column.mask.hash.md5.with.salt.a\tb", "v"))
    assert(tab.getMessage.contains("salt"), tab.getMessage)
    // real Debezium column.* passthrough options are accepted and ignored
    // (they are not mask grammars)
    assert(spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("debezium.column.propagate.source.type", ".*")
      .load().count() > 0)
    // one column, two rules
    val dup = intercept[Exception](spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("debezium.column.mask.with.3.chars", "v")
      .option("debezium.column.truncate.to.2.chars", "v")
      .load().count())
    assert(dup.getMessage.contains("more than one mask rule"), dup.getMessage)
  }

  test("skipped.operations drops ops from the stream, never from the " +
      "snapshot merge") {
    val dir = tmpDir("cdc-skipops")
    writeDb(dir, 6L)
    // log replay with deletes and updates skipped: only inserts remain
    val ops = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "earliest")
      .option("debezium.skipped.operations", "d,u")
      .load().select("__op").collect().map(_.getString(0)).toSet
    assert(ops === Set("+I"), ops.toString)
    // snapshot (initial) still applies every op: state matches finalState
    val st = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("debezium.skipped.operations", "d,u")
      .load().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(st === finalState, st.toString)
    // grammar: unknown op letter fails at analysis
    val bad = intercept[Exception](spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("debezium.skipped.operations", "x")
      .load().count())
    assert(bad.getMessage.contains("skipped.operations"), bad.getMessage)
  }

  test("__schema/__tenant metadata columns: NULL without the concept, " +
    "populated when the store declares them, snapshot and log alike") {
    val plain = tmpDir("cdc-tenant-plain")
    writeDb(plain, 6L)
    val p = read(plain, "initial")
      .select("id", SchemaCol, TenantCol)
      .collect()
    assert(p.nonEmpty)
    assert(p.forall(r => r.isNullAt(1) && r.isNullAt(2)),
      "a store without schema/tenant concepts must surface NULLs")
    val owned = tmpDir("cdc-tenant-owned")
    FileCdcDatabase.write(spark, owned, "t", "graft", "id",
      snapshot = snapshotDf,
      changes = changesDf(allEvents.filter(_._1 <= 6L)),
      snapshotPartitions = 2, force = true,
      schemaName = Some("app"), tenant = Some("ten1"))
    // both snapshot-merged rows (initial) and raw log rows (earliest)
    // carry the owning schema/tenant on every record
    for (mode <- Seq("initial", "earliest")) {
      val rows = read(owned, mode)
        .select(SchemaCol, TenantCol)
        .collect()
      assert(rows.nonEmpty, mode)
      assert(rows.forall(r =>
        r.getString(0) == "app" && r.getString(1) == "ten1"), mode)
    }
    // pruning: a payload-only projection never touches the meta columns
    assert(read(owned, "initial").select("id", "v").count() > 0)
  }

  test("specific-offset skip-events/skip-rows: mid-transaction resume " +
    "(BinlogOffset eventsToSkip/rowsToSkip semantics)") {
    val dir = tmpDir("cdc-skip")
    writeDb(dir, 6L)
    def rows(opts: (String, String)*): Seq[(String, Long)] = {
      val r = spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "specific-offset")
        .option("scan.incremental.snapshot.chunk.size", "5")
      opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
        .select(OpCol, OffsetCol).collect()
        .map(x => (x.getString(0), x.getLong(1))).toSeq.sortBy(_._2)
    }
    // baseline: from offset 2 -> events 3,4,5,6 (update 4 emits -U,+U)
    val base = rows("scan.startup.specific-offset" -> "2")
    assert(base === Seq(("+I", 3L), ("-U", 4L), ("+U", 4L), ("-D", 5L),
      ("+I", 6L)))
    // skip-events=2 from offset 2: events 3 and 4 skipped entirely
    assert(rows("scan.startup.specific-offset" -> "2",
      "scan.startup.specific-offset.skip-events" -> "2") ===
      Seq(("-D", 5L), ("+I", 6L)))
    // skip-rows=1 from offset 3: the first event (update at 4) loses its
    // already-delivered -U; later events untouched
    assert(rows("scan.startup.specific-offset" -> "3",
      "scan.startup.specific-offset.skip-rows" -> "1") ===
      Seq(("+U", 4L), ("-D", 5L), ("+I", 6L)))
    // composed: skip 1 event past offset 2 (drops 3), then 1 row of the
    // next (update 4 keeps only +U)
    assert(rows("scan.startup.specific-offset" -> "2",
      "scan.startup.specific-offset.skip-events" -> "1",
      "scan.startup.specific-offset.skip-rows" -> "1") ===
      Seq(("+U", 4L), ("-D", 5L), ("+I", 6L)))
    // skipping past the log head yields an empty replay, not an error
    assert(rows("scan.startup.specific-offset" -> "2",
      "scan.startup.specific-offset.skip-events" -> "99") === Seq.empty)
    // upsert changelog mode: the update at offset 4 emits ONLY +U, so
    // skip-rows=1 consumes the whole first event and later events are
    // untouched — rows-to-skip count EMITTED rows of the wire mode in
    // effect, exactly as a resume checkpoint would have recorded them
    assert(rows("scan.startup.specific-offset" -> "3",
      "scan.startup.specific-offset.skip-rows" -> "1",
      "changelog.mode" -> "upsert") ===
      Seq(("-D", 5L), ("+I", 6L)))
    // skips without specific-offset mode fail at analysis
    val e = intercept[Exception] {
      spark.read.format("graft-cdc")
        .option("path", dir).option("table", "t")
        .option("scan.startup.mode", "earliest")
        .option("scan.startup.specific-offset.skip-events", "1")
        .load().count()
    }
    assert(e.getMessage.contains("specific-offset"), e.getMessage)
  }

  test("specific-offset skip semantics hold through the STREAM path " +
    "(first micro-batch only, restart-safe)") {
    val dir = tmpDir("cdc-skip-stream")
    writeDb(dir, 6L)
    val name = s"skipstream_${System.nanoTime()}"
    val q = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "specific-offset")
      .option("scan.startup.specific-offset", "2")
      .option("scan.startup.specific-offset.skip-events", "1")
      .option("scan.startup.specific-offset.skip-rows", "1")
      // force multiple micro-batches so later batches prove unaffected
      .option("scan.stream.max-events-per-trigger", "1")
      .load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).select(OpCol, OffsetCol).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq.sortBy(_._2)
    assert(got === Seq(("+U", 4L), ("-D", 5L), ("+I", 6L)))
  }

  test("chunk.size.mb: byte-derived chunking reads the identical state; " +
    "dialect row-size estimate comes from file metadata") {
    val dir = tmpDir("cdc-bytesize")
    writeDb(dir, 6L)
    val avg = graft.cdc.dialect.CdcDialects.byName("file")
      .avgRowSizeBytes(dir, "t")
    assert(avg.exists(a => a > 0 && a < 200), s"avg=$avg")
    // 1 MB target >> 20 tiny rows -> row budget swallows the table: one
    // snapshot partition, same merged state as row-count chunking
    val byBytes = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.incremental.snapshot.chunk.size.mb", "1")
      .load()
    assert(byBytes.rdd.getNumPartitions === 1)
    val rows = byBytes.select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet === finalState)
    intercept[IllegalArgumentException] {
      graft.cdc.source.CdcSourceConfig.fromOptions(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", dir, "table", "t",
            "scan.incremental.snapshot.chunk.size.mb", "-3")))
    }
  }

  test("truncate event: death frontier in the merge, silent in log replay") {
    val dir = tmpDir("cdc-trunc")
    // snapshot 1..20; update id1, insert 21, TRUNCATE, insert 22 and 23,
    // delete 22 — survivors are exactly the post-truncate inserts minus
    // the post-truncate delete
    val events = Seq(
      (1L, "u", Some((1L, "v1")), Some((1L, "v1b"))),
      (2L, "c", None, Some((21L, "v21"))),
      (3L, "t", None, None),
      (4L, "c", None, Some((22L, "v22"))),
      (5L, "c", None, Some((23L, "v23"))),
      (6L, "d", Some((22L, "v22")), None))
    FileCdcDatabase.write(spark, dir, "t", "graft", "id",
      snapshot = snapshotDf, changes = changesDf(events),
      snapshotPartitions = 2, force = true)
    val rows = read(dir, "initial").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet === Set((23L, "v23")))
    // log replay: the truncate contributes no row; everything else does
    val ops = read(dir, "earliest").groupBy(OpCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops === Map("+I" -> 3L, "-U" -> 1L, "+U" -> 1L, "-D" -> 1L))
    // bounded read BEFORE the truncate still sees the pre-truncate state
    val before = spark.read.format("graft-cdc")
      .option("path", dir).option("table", "t")
      .option("scan.startup.mode", "initial")
      .option("scan.bounded.offset", "2")
      .option("scan.incremental.snapshot.chunk.size", "5")
      .load().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(before === ((1L to 20L).map {
      case 1L => (1L, "v1b"); case i => (i, s"v$i")
    }.toSet + ((21L, "v21"))))
  }

  test("mask spec encode/decode round-trips every rule shape") {
    import graft.cdc.source.ColumnMasks
    val rules: Map[String, ColumnMasks.Rule] = Map(
      "a" -> ColumnMasks.MaskWith(7),
      "b" -> ColumnMasks.TruncateTo(2),
      "c" -> ColumnMasks.HashWithSalt("MD5", "salt with spaces"))
    assert(ColumnMasks.decode(ColumnMasks.encode(rules)) === rules)
    assert(ColumnMasks.decode("") === Map.empty)
  }
}
