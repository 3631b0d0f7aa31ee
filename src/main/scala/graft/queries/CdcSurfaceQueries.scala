package graft.queries

import graft.cdc._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Surface-parity queries for the CDC source options (SURVEY §2.4 T3/T4,
 * §2.5 P1, §2.6 U1): startup at a specific offset / timestamp, rate-limited
 * micro-batches, sharded-table regex capture, and the Debezium-JSON
 * deserialization round trip.
 */
object CdcSurfaceQueries {

  import ChangeRecord._
  import CdcSourceQueries.{orderCols, ordersSpec, prepare}

  /** Two shards of `orders` split by key parity — the sharded-table layout
    * the reference's `table-name` regex captures (P1). */
  private[queries] def prepareSharded(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb", sfDir)
    val base = Tables.load(spark, sfDir, "orders")
    Seq(0, 1).foreach { p =>
      val shard = base.filter(col("o_orderkey") % 2 === p)
      FileCdcDatabase.write(spark, dir, s"orders_$p", "graft", ordersSpec.pk,
        snapshot = shard,
        changes = ChangelogGen.changes(shard,
          ordersSpec.copy(table = s"orders_$p")),
        snapshotPartitions = 16)
    }
    dir
  }

  /** The orders CDC database with garbage lines injected into the log —
    * one truncated JSON line and one well-formed but non-envelope record,
    * placed mid-file so early-stop scanning must step over them. */
  /** Serialize the full orders changelog to JSON strings ONCE per scale
    * factor (scratch parquet, keyed by existence) and return it as the
    * deserializer input — keeps fixture generation out of the timed
    * region of `cdc_json_roundtrip`. */
  private[queries] def prepareJsonFixture(spark: SparkSession, sfDir: String,
      base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[String] = {
    val dir = graft.Artifacts.dir("json_roundtrip", sfDir)
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val env = ChangelogGen.full(base, ordersSpec)
      Deserializers.toJsonStrings(env).write.mode("overwrite").parquet(dir)
    }
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    spark.read.parquet(dir).toDF("value").as[String]
  }

  /** Same hoist as [[prepareJsonFixture]], schema-included wire format. */
  private[queries] def prepareJsonSchemaFixture(spark: SparkSession,
      sfDir: String, base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[String] = {
    val dir = graft.Artifacts.dir("json_roundtrip_schema", sfDir)
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val env = ChangelogGen.full(base, ordersSpec)
      Deserializers.toJsonStringsWithSchema(env, base.schema)
        .write.mode("overwrite").parquet(dir)
    }
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    spark.read.parquet(dir).toDF("value").as[String]
  }

  /** The `orders` database with two undecodable lines spliced into the
    * middle of its log. Corrupted in the stage and published once, so no
    * reader sees it clean and a torn build is rebuilt from scratch. */
  private[graft] def prepareCorrupt(spark: SparkSession, sfDir: String): String =
    graft.Artifacts.once("cdcdb_corrupt", 1, sfDir) { dir =>
      import java.nio.file.{Files, Paths}
      val base = Tables.load(spark, sfDir, "orders")
      FileCdcDatabase.write(spark, dir, "orders", "graft", ordersSpec.pk,
        snapshot = base,
        changes = ChangelogGen.changes(base, ordersSpec),
        snapshotPartitions = 8)
      val logFile = Paths.get(
        FileCdcDatabase.dataFiles(dir, "orders", "log").head)
      val lines = Files.readAllLines(logFile)
      val mid = lines.size / 2
      lines.add(mid, """{"this_is":"not an envelope", "x": [1,2""")
      lines.add(mid, """{"hello": 42, "no_offset_field": true}""")
      Files.write(logFile, lines)
    }

  /** Fixture with a TRUNCATE event between the update band (~1e6) and the
    * insert band (~2e9): post-truncate state = only the inserted copies
    * (Debezium emits `t` for MySQL TRUNCATE TABLE; the merge treats it as
    * the death frontier for every earlier write). */
  private[queries] def prepareTrunc(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_trunc", sfDir)
    val base = Tables.load(spark, sfDir, "orders")
    val truncOff = 1500000000L
    val truncRow = base.limit(1).select(
      lit(truncOff).as(OffsetCol),
      lit(ExternalOp.Truncate).as(OpCol),
      lit(truncOff).as(TsCol),
      lit("graft").as(DbCol), lit("orders").as(TableCol),
      lit(null).cast(base.schema).as(BeforeCol),
      lit(null).cast(base.schema).as(AfterCol))
    FileCdcDatabase.write(spark, dir, "orders", "graft", ordersSpec.pk,
      snapshot = base,
      changes = ChangelogGen.changes(base, ordersSpec)
        .unionByName(truncRow),
      snapshotPartitions = 8)
    dir
  }

  private def readBatch(spark: SparkSession, dir: String, table: String,
      opts: Map[String, String]): DataFrame = {
    val r = spark.read.format("graft-cdc")
      .option("path", dir).option("table", table)
      .option("scan.incremental.snapshot.chunk.size", "1000")
    opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
  }

  private def opCounts(df: DataFrame): DataFrame =
    df.groupBy(col(OpCol)).agg(count(lit(1)).as("n")).orderBy(col(OpCol))

  def defs: Map[String, QueryDef] = Map(

    // Startup at a specific log position: replay strictly after the given
    // offset (generator bands: updates ~1e6, inserts ~2e9, deletes ~4e9 —
    // starting at 1999999999 skips every update).
    "cdc_startup_specific_offset" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        opCounts(readBatch(s, dir, "orders", Map(
          "scan.startup.mode" -> "specific-offset",
          "scan.startup.specific-offset" -> "1999999999")))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // Mid-transaction resume (BinlogOffset.eventsToSkip/rowsToSkip,
    // re-expressed on the linear offset space): seek to the start of the
    // update band, skip the 5 already-processed update EVENTS, and drop
    // the first emitted ROW of the 6th (its -U was already delivered
    // before the restart) — the 6th update contributes only its +U, every
    // later event is untouched, and the insert/delete bands replay
    // whole.
    "cdc_startup_skip_events" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        opCounts(readBatch(s, dir, "orders", Map(
          "scan.startup.mode" -> "specific-offset",
          "scan.startup.specific-offset" -> ordersSpec.updBand.toString,
          "scan.startup.specific-offset.skip-events" -> "5",
          "scan.startup.specific-offset.skip-rows" -> "1")))
      },
      Some("""WITH ranked AS (
             |  SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
             |  FROM orders WHERE o_orderkey % 10 = 7)
             |SELECT __op, n FROM (
             |  SELECT '+I' AS __op, (SELECT CAST(COUNT(*) AS BIGINT)
             |    FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '+U', (SELECT CAST(COUNT(*) AS BIGINT)
             |    FROM ranked WHERE rn > 5)
             |  UNION ALL SELECT '-U', (SELECT CAST(COUNT(*) AS BIGINT)
             |    FROM ranked WHERE rn > 6)
             |  UNION ALL SELECT '-D', (SELECT CAST(COUNT(*) AS BIGINT)
             |    FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // TRUNCATE event in the changelog (Debezium emits `t` for MySQL
    // TRUNCATE TABLE): the snapshot merge applies it as a death frontier
    // — every row whose newest write precedes the truncate offset is
    // dead, including the whole snapshot, and only the post-truncate
    // inserted copies survive. The pre-truncate updates and the
    // post-truncate deletes (which target already-dead original keys)
    // must both leave no trace. Log replay (earliest) emits no row for
    // the truncate itself — there is no whole-table retract row kind.
    "cdc_truncate_log" -> QueryDef(
      (s, dir0) => {
        val dir = prepareTrunc(s, dir0)
        readBatch(s, dir, "orders", Map("scan.startup.mode" -> "initial"))
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some {
        val cols = orderCols.map {
          case c if c == ordersSpec.pk =>
            s"${ordersSpec.pk} + ${ordersSpec.insertKeyOffset} AS ${ordersSpec.pk}"
          case c => c
        }.mkString(", ")
        s"""SELECT $cols FROM orders
           |WHERE ${ordersSpec.pk} % ${ordersSpec.insEvery} = ${ordersSpec.insSel}
           |ORDER BY ${ordersSpec.pk}""".stripMargin
      }),

    // Startup from a source timestamp (ts == offset in the generated log):
    // from ts 4e9 only the deletes remain.
    "cdc_startup_timestamp" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        opCounts(readBatch(s, dir, "orders", Map(
          "scan.startup.mode" -> "timestamp",
          "scan.startup.timestamp-millis" -> "4000000000")))
      },
      Some("""SELECT '-D' AS __op,
             |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3) AS n
             |ORDER BY __op""".stripMargin)),

    // Rate-limited stream: ≤4000 events per micro-batch; AvailableNow drains
    // the log over several batches and the union must equal one-shot replay
    // (exactly-once across batch boundaries).
    "cdc_rate_limited_stream" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        val stream = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "earliest")
          .option("scan.stream.max-events-per-trigger", "4000")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
        opCounts(graft.QueryUtil.drain(stream))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '+U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // Sharded-table capture: `table` = regex over discovered tables; both
    // shards stream through one source (rows tagged by __table) and the
    // merged materialized state equals the unsharded result.
    "cdc_sharded_tables" -> QueryDef(
      (s, dir0) => {
        val dir = prepareSharded(s, dir0)
        val df = readBatch(s, dir, "orders_[01]",
          Map("scan.startup.mode" -> "initial"))
        df.select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // Malformed-event tolerance (the reference's Debezium errors.tolerance
    // surface): the log carries garbage lines (truncated JSON, a non-
    // envelope record) interleaved with real events; with
    // scan.parse.error-policy=skip the batch read drops exactly the
    // undecodable lines and the merged state is unchanged — while the
    // default (fail) read of the same database throws (CdcParseErrorSpec
    // pins that half).
    "cdc_parse_error_skip" -> QueryDef(
      (s, dir0) => {
        val dir = prepareCorrupt(s, dir0)
        readBatch(s, dir, "orders",
          Map("scan.startup.mode" -> "initial",
            "scan.parse.error-policy" -> "skip"))
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // Debezium-JSON round trip (U1): envelope → JSON strings → parsed
    // envelope → emitted changelog; kind histogram must survive intact.
    // The serialize half (ChangelogGen.full + toJsonStrings) is fixture
    // generation: it runs once into a scratch parquet (same hoist as
    // prepareCorrupt), so repeated runs time the DESERIALIZER surface —
    // parse + emit — not envelope synthesis.
    "cdc_json_roundtrip" -> QueryDef(
      (s, dir0) => {
        val base = Tables.load(s, dir0, "orders")
        val jsons = prepareJsonFixture(s, dir0, base)
        val back = Deserializers.fromJsonStrings(jsons, base.schema)
        opCounts(Materialize.emit(back, ChangelogAll))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op,
             |    (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '+U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // Schema-INCLUDED Debezium-JSON round trip (the reference's
    // `includeSchema` constructor, JsonDebeziumDeserializationSchema.java):
    // each document embeds its Connect-style schema, and the reader
    // re-derives the row StructType FROM the wire — no caller-supplied
    // schema anywhere on the parse path. Same changelog histogram as the
    // schemaless round trip, so any drift in either wire format shows.
    "cdc_json_roundtrip_schema" -> QueryDef(
      (s, dir0) => {
        val base = Tables.load(s, dir0, "orders")
        val jsons = prepareJsonSchemaFixture(s, dir0, base)
        val back = Deserializers.fromJsonStringsWithSchema(jsons)
        opCounts(Materialize.emit(back, ChangelogAll))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op,
             |    (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '+U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // TEMPORAL TABLE JOIN (Flink's `FOR SYSTEM_TIME AS OF`, the versioned-
    // table join the reference's cdc-sql layer feeds): each order-update
    // event joins the customer VERSION valid at the event's log offset —
    // not the current state. Version intervals come from the changelog
    // itself: baseline images at offset 0 (snapshot-only read) plus every
    // after-image, validity ended by the key's next change (delete
    // tombstones close intervals and drop out). The probe is an equi-join
    // on the key with an offset-range predicate; version construction is
    // one partitioned window (lead over per-key offsets) — no global
    // operator. The oracle derives the same AS-OF state in closed form
    // from the deterministic changelog (a customer's update applies iff
    // its offset ≤ the order event's, i.e. c_custkey ≤ o_orderkey in the
    // shared update band).
    "cdc_temporal_join" -> QueryDef(
      (s, dir0) => {
        import org.apache.spark.sql.expressions.Window
        val dir = prepare(s, dir0)
        CdcSourceQueries.prepareCustomer(s, dir0)
        val base = s.read.format("graft-cdc")
          .option("path", dir).option("table", "customer")
          .option("scan.startup.mode", "initial")
          .option("scan.bounded.offset", "0")
          .option("scan.incremental.snapshot.chunk.size", "20000")
          .load()
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            lit(0L).as("vfrom"), lit(false).as("tomb"))
        val ch = s.read.format("graft-cdc")
          .option("path", dir).option("table", "customer")
          .option("scan.startup.mode", "earliest")
          .load()
          .filter(col(OpCol) =!= RowKind.UpdateBefore)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            col(OffsetCol).as("vfrom"),
            (col(OpCol) === RowKind.Delete).as("tomb"))
        val w = Window.partitionBy(col("c_custkey")).orderBy(col("vfrom"))
        val versions = base.unionByName(ch)
          .withColumn("vto", lead(col("vfrom"), 1, Long.MaxValue).over(w))
          .filter(!col("tomb"))
        val probes = s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "earliest")
          .load()
          .filter(col(OpCol) === RowKind.UpdateAfter)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col(OffsetCol).as("ooff"))
        probes.join(versions,
            probes("o_custkey") === versions("c_custkey")
              && col("vfrom") <= col("ooff") && col("ooff") < col("vto"))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("c_mktsegment"), col("c_acctbal").as("c_acctbal_asof"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
             |  c_mktsegment,
             |  CASE WHEN c_custkey % 10 = 7 AND c_custkey <= o_orderkey
             |       THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal_asof
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 10 = 7
             |ORDER BY o_orderkey""".stripMargin))
  )
}
