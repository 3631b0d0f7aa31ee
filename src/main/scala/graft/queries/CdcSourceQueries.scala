package graft.queries

import graft.{QueryDef, Tables}
import graft.cdc._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Queries that exercise the full DSv2 source path: a file-backed CDC
 * "database" (snapshot JSONL + change-log JSONL, [[graft.cdc.FileCdcDatabase]])
 * is derived deterministically from the base parquet tables, then read back
 * through `format("graft-cdc")` — batch and micro-batch — so chunk splitting,
 * the watermark backfill merge (W1/W2), stream-phase emission (W3) and
 * startup modes (T4) all sit on the verified path.
 */
object CdcSourceQueries {

  import ChangeRecord._

  private val ordersSpec = ChangelogGen.Spec(pk = "o_orderkey",
    measure = "o_totalprice", table = "orders")
  /** Bound for the time-travel query: inside the update band (updBand + pk),
    * past the first ~3000 keys — partial updates at every test SF. */
  private val StateAtBound = ordersSpec.updBand + 3000L
  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Idempotently materialize the file CDC database for `orders` at this sf.
    * Chunk size forces multiple snapshot chunks even at sf0.001. */
  private[queries] def prepare(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb", sfDir)
    val base = Tables.load(spark, sfDir, "orders")
    FileCdcDatabase.write(spark, dir, "orders", "graft", ordersSpec.pk,
      snapshot = base,
      changes = ChangelogGen.changes(base, ordersSpec),
      snapshotPartitions = 32)
    dir
  }

  /** Idempotently materialize the embedded-Derby CDC database for `orders`
    * at this sf (same changelog spec as the file fixture). */
  private[queries] def prepareJdbc(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("jdbccdc", sfDir)
    val base = Tables.load(spark, sfDir, "orders")
    graft.cdc.dialect.JdbcCdcDatabase.write(spark, dir, "orders", "graft",
      ordersSpec.pk, snapshot = base,
      changes = ChangelogGen.changes(base, ordersSpec))
    dir
  }

  private def readBatch(spark: SparkSession, dir: String, mode: String,
      changelogMode: String = "all"): DataFrame =
    spark.read.format("graft-cdc")
      .option("path", dir).option("table", "orders")
      .option("scan.startup.mode", mode)
      .option("changelog.mode", changelogMode)
      .option("scan.incremental.snapshot.chunk.size", "1000")
      .load()

  /** Run a CDC stream to completion (AvailableNow) into a memory sink and
    * return the collected changelog rows. */
  private def runStream(spark: SparkSession, dir: String, mode: String,
      changelogMode: String = "all"): DataFrame = {
    val stream = spark.readStream.format("graft-cdc")
      .option("path", dir).option("table", "orders")
      .option("scan.startup.mode", mode)
      .option("changelog.mode", changelogMode)
      .option("scan.incremental.snapshot.chunk.size", "1000")
      .load()
    graft.QueryUtil.drain(stream)
  }

  def defs: Map[String, QueryDef] = Map(

    // Batch scan, startup.mode=initial: chunked snapshot merged with the
    // full log via the per-chunk watermark algorithm → current table state.
    "cdc_source_batch_orders" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        readBatch(s, dir, "initial")
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // Batch scan, startup.mode=earliest: log replay only — the emitted
    // row-kind histogram must match the generated change set exactly.
    "cdc_source_earliest_ops" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        readBatch(s, dir, "earliest")
          .groupBy(col(OpCol)).agg(count(lit(1)).as("n"))
          .orderBy(col(OpCol))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '+U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // Micro-batch stream, initial mode: hybrid snapshot→stream offsets;
    // materialized result must equal the batch/current state (exactly-once:
    // any duplicate or lost row from the snapshot/stream handoff breaks it).
    "cdc_source_stream_materialized" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        val changelog = runStream(s, dir, "initial")
        Materialize.materialize(changelog, Seq(ordersSpec.pk))
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // Upsert changelog mode through the stream (no UPDATE_BEFORE rows).
    "cdc_source_stream_upsert_ops" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        runStream(s, dir, "earliest", changelogMode = "upsert")
          .groupBy(col(OpCol)).agg(count(lit(1)).as("n"))
          .orderBy(col(OpCol))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '+U', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 7)
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // Per-connector EXTRA metadata columns (__schema/__tenant) — the
    // closed-set analogue of Oracle's schema_name
    // (OracleReadableMetaData.java:34-99) and OceanBase's tenant_name
    // (OceanBaseReadableMetadata.java:28-86): populated when the source
    // store declares the concept, NULL elsewhere, pruned by Catalyst when
    // unused. One read of each kind: the plain orders database (no
    // schema/tenant concept → NULLs) and the schema+tenant-owned customer
    // database, both merged to final state, grouped on the full metadata
    // key.
    "cdc_schema_tenant_metadata" -> QueryDef(
      (s, dir0) => {
        val plain = prepare(s, dir0)
        val tdir = prepareTenant(s, dir0)
        def agg(dir: String, table: String) = s.read.format("graft-cdc")
          .option("path", dir).option("table", table)
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .groupBy(col(DbCol), col(TableCol), col(SchemaCol),
            col(TenantCol))
          .agg(count(lit(1)).as("n"))
        agg(plain, "orders").unionByName(agg(tdir, "customer"))
          .orderBy(col(TableCol))
      },
      Some {
        val ordersState =
          ChangelogGen.oracleFinalStateSql(ordersSpec, Seq("o_orderkey"),
            "orders")
        val custState =
          ChangelogGen.oracleFinalStateSql(custSpec, Seq("c_custkey"),
            "customer")
        s"""SELECT __db, __table, __schema, __tenant, n FROM (
           |  SELECT 'graft' AS __db, 'customer' AS __table,
           |    'app' AS __schema, 'tenant_a' AS __tenant,
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ($custState)) AS n
           |  UNION ALL
           |  SELECT 'graft', 'orders', CAST(NULL AS VARCHAR),
           |    CAST(NULL AS VARCHAR),
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ($ordersState))
           |) ORDER BY __table""".stripMargin
      }),

    // Capture-time column redaction (Debezium passthrough grammar,
    // DebeziumOptions.java:24-41 + Debezium column.mask.*/column.truncate.*):
    // the hash rule pseudonymizes o_orderstatus (equality-preserving hex
    // digest of salt+value), the truncate rule clips o_orderpriority — both
    // applied inside the readers, so the merged batch state never contains
    // an original value. Oracle applies the same transforms in SQL over the
    // changelog's final state.
    "cdc_column_masking" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .option("debezium.column.mask.hash.md5.with.salt.s3",
            "o_orderstatus")
          .option("debezium.column.truncate.to.3.chars", "o_orderpriority")
          .load()
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
      },
      Some(s"""SELECT o_orderkey,
             |       md5(concat('s3', o_orderstatus)) AS o_orderstatus,
             |       substr(o_orderpriority, 1, 3) AS o_orderpriority
             |FROM (${ChangelogGen.oracleFinalStateSql(ordersSpec,
                        orderCols, "orders")})
             |ORDER BY o_orderkey""".stripMargin)),

    // Debezium `skipped.operations` passthrough: update events never reach
    // the emitted stream (log replay drops them before emit), while inserts
    // and deletes flow — the op histogram loses exactly its +U/-U rows
    // relative to cdc_source_earliest_ops. Snapshot reads are unaffected by
    // design: the merge must still apply every op to reconstruct state.
    "cdc_skipped_operations" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "earliest")
          .option("debezium.skipped.operations", "u")
          .load()
          .groupBy(col(OpCol)).agg(count(lit(1)).as("n"))
          .orderBy(col(OpCol))
      },
      Some("""SELECT __op, n FROM (
             |  SELECT '+I' AS __op, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 1) AS n
             |  UNION ALL SELECT '-D', (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 3)
             |) ORDER BY __op""".stripMargin)),

    // Live-JDBC dialect end-to-end: the same orders changelog materialized
    // into an embedded Derby database, read back through the generic source
    // with dialect=jdbc — chunk range scans, the log slice and the rate
    // probe all execute as real SQL (Db2/Derby statement flavor) with
    // streaming fetch. Same oracle as the file dialect: the dialect layer
    // must be invisible in the result.
    "cdc_source_jdbc_orders" -> QueryDef(
      (s, dir0) => {
        val dir = prepareJdbc(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("dialect", "jdbc")
          .option("scan.startup.mode", "initial")
          // larger chunks than the file variant: each chunk is a SQL round
          // trip AND each grouped partition re-runs the log overlay scan,
          // so chunk count trades round-trip/overlay overhead against scan
          // parallelism (measured sweet spot ~20k rows/chunk at sf0.1 on
          // local[32]; the fetch-size stream keeps per-chunk memory bounded
          // regardless of chunk size)
          .option("scan.incremental.snapshot.chunk.size", "20000")
          .load()
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // The Postgres statement flavor on the same embedded engine
    // (dialect.flavor, SURVEY §2.1 S4-S8): double-quoted chunk/log SQL
    // executes verbatim and the LIMIT chunk-max walk runs store-side
    // through the boundary translator.
    "cdc_source_jdbc_pg_flavor" -> QueryDef(
      (s, dir0) => {
        val dir = prepareJdbc(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("dialect", "jdbc")
          .option("dialect.flavor", "postgres-cdc")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "20000")
          .load()
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // The MySQL statement flavor — the reference's 16.8k-LoC flagship
    // (StatementUtils.java:99-224): backtick-quoted chunk/stats/log SQL
    // with the LIMIT chunk-max walk is BUILT natively and executes via the
    // boundary translator, so snapshot chunking, the log slice and the
    // merge all ride mysql-cdc's own statement shapes end-to-end.
    "cdc_source_jdbc_mysql_flavor" -> QueryDef(
      (s, dir0) => {
        val dir = prepareJdbc(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("dialect", "jdbc")
          .option("dialect.flavor", "mysql-cdc")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "20000")
          .load()
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")
        + "\nORDER BY o_orderkey")),

    // LIVE NEWLY-ADDED TABLE (reference semantics:
    // MySqlSourceReader.java:147-241 — suspend the binlog split, snapshot
    // the new table, resume): a ProcessingTime stream over regex `dyn_.*`
    // starts with dyn_a alone; once its changelog lands, dyn_b is WRITTEN
    // TO THE DATABASE while the query runs. latestOffset()'s fresh
    // discovery folds dyn_b into the offset's snapshotted set and the
    // next micro-batch plans its snapshot chunks — NO restart, and
    // dyn_a's consumed log is untouched. Result: merged final states of
    // both halves; the oracle applies the same band arithmetic per half.
    "cdc_newly_added_table" -> QueryDef(
      (s, dir0) => {
        val dir = prepareDynDb(s, dir0)
        // constant small slice: the scenario exercises discovery +
        // re-planning, not volume — keep the mid-query write cheap
        val cust = Tables.load(s, dir0, "customer")
          .filter(col("c_custkey") <= 2000)
        def half(even: Boolean) = cust.filter(
          col("c_custkey") % 2 === (if (even) 0 else 1))
        // emitted rows per table = its merged final state (snapshot phase
        // consumes the whole log ≤ high): survivors + inserted copies
        def expectedFinal(df: DataFrame): Long =
          df.filter(col("c_custkey") % 13 =!= 3).count() +
            df.filter(col("c_custkey") % 100 === 1).count()
        val expectA = expectedFinal(half(even = true))
        val expectB = expectedFinal(half(even = false))
        val name = s"cdcnat_${System.nanoTime()}"
        val q = s.readStream.format("graft-cdc")
          .option("path", dir).option("table", "dyn_.*")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .writeStream.format("memory").queryName(name)
          .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
        def sinkCount(): Long = s.table(name).count()
        def await(target: Long, what: String): Unit = {
          val deadline = System.nanoTime() + 180L * 1000L * 1000L * 1000L
          while (sinkCount() < target) {
            require(System.nanoTime() < deadline,
              s"timeout waiting for $what (${sinkCount()}/$target)")
            Thread.sleep(50L)
          }
        }
        // a live poll, not a drain: stop it and drop its sink on every path
        val changelog = try {
          await(expectA, "dyn_a snapshot")
          FileCdcDatabase.write(s, dir, "dyn_b", "graft", custSpec.pk,
            snapshot = half(even = false),
            changes = ChangelogGen.changes(half(even = false),
              custSpec.copy(table = "dyn_b")),
            snapshotPartitions = 4, force = true)
          await(expectA + expectB, "dyn_b live pickup")
          q.stop()
          s.table(name) // resolved at once: the rows outlive the view
        } finally { q.stop(); s.catalog.dropTempView(name) }
        // even/odd key domains are disjoint (copies shift by an even 1e9),
        // so one materialization over the shared pk space is exact
        Materialize.materialize(changelog, Seq(custSpec.pk))
          .select(custCols.map(col): _*)
          .orderBy(col("c_custkey"))
      },
      Some {
        val a = ChangelogGen.oracleFinalStateSql(custSpec, custCols,
          "(SELECT * FROM customer WHERE c_custkey <= 2000 AND c_custkey % 2 = 0)")
        val b = ChangelogGen.oracleFinalStateSql(custSpec, custCols,
          "(SELECT * FROM customer WHERE c_custkey <= 2000 AND c_custkey % 2 = 1)")
        s"""SELECT c_custkey, c_mktsegment, c_acctbal FROM (
           |$a
           |UNION ALL
           |$b
           |) ORDER BY c_custkey""".stripMargin
      }),

    // Point-in-time ("time travel") read: scan.bounded.offset pins the log
    // head at an offset INSIDE the update band, so the batch returns the
    // table state as of that moment — updates applied only for keys whose
    // event offset (band + pk) is within the bound, no inserts, no deletes.
    // The newer reference line's scan.bounded.mode=specific-offset.
    "cdc_state_at_offset" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "initial")
          .option("scan.bounded.offset", StateAtBound.toString)
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleStateAtSql(ordersSpec, orderCols, "orders",
        StateAtBound) + "\nORDER BY o_orderkey")),

    // Snapshot-only mode (the newer reference line's
    // scan.startup.mode=snapshot): a bounded read pinned at offset 0 —
    // chunked snapshot scan, NO log overlay. The degenerate case of the
    // point-in-time read whose correctness hinges on the planner NOT
    // consuming the (non-empty) log.
    "cdc_snapshot_only" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "orders")
          .option("scan.startup.mode", "initial")
          .option("scan.bounded.offset", "0")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .select(orderCols.map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(s"""SELECT ${orderCols.mkString(", ")} FROM orders
              |ORDER BY o_orderkey""".stripMargin)),

    // CROSS-TABLE consistent point-in-time read: `orders` and `customer`
    // share one log offset space (like tables sharing a binlog); reading
    // BOTH at the same bounded offset — pinned mid-way through the delete
    // band, so updates and inserts are fully applied and deletes only
    // partially, in both tables — yields a transactionally consistent
    // multi-table snapshot: orders of already-deleted customers drop out
    // of the join exactly as they would have at that log position. This is
    // the property that makes CDC-fed joins trustworthy: never mix table
    // states from different log positions.
    "cdc_consistent_snapshot" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        prepareCustomer(s, dir0)
        val bound = ordersSpec.delBand + 3000L
        def at(table: String) = s.read.format("graft-cdc")
          .option("path", dir).option("table", table)
          .option("scan.startup.mode", "initial")
          .option("scan.bounded.offset", bound.toString)
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
        at("orders").select(col("o_custkey"), col("o_totalprice"))
          .join(at("customer")
            .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"),
            sum(col("c_acctbal").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some {
        val bound = ordersSpec.delBand + 3000L
        val o = ChangelogGen.oracleStateAtSql(ordersSpec,
          Seq("o_orderkey", "o_custkey", "o_totalprice"), "orders", bound)
        val c = ChangelogGen.oracleStateAtSql(custSpec, custCols,
          "customer", bound)
        s"""WITH o AS ($o), c AS ($c)
           |SELECT c_mktsegment, COUNT(*) AS n_orders,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS sum_price,
           |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           |    AS sum_bal
           |FROM o JOIN c ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
      }),

    // CDC + relational composition: the materialized current state joined
    // to a broadcast dimension — the "enrich the changelog" pattern every
    // downstream consumer of the reference runs. Revenue per market
    // segment over the post-change orders state.
    "cdc_enrich_join" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        val cust = Tables.load(s, dir0, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        readBatch(s, dir, "initial")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("revenue"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""WITH cur AS (
              |${ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")})
              |SELECT c_mktsegment, COUNT(*) AS n_orders,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              |FROM cur JOIN customer ON o_custkey = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // The SQL DDL surface — the reference's primary API is Flink SQL
    // `CREATE TABLE orders (...) WITH ('connector' = 'mysql-cdc', ...)`
    // (MySqlTableSourceFactory); the Spark-native equivalent is
    // `CREATE TABLE ... USING graft-cdc OPTIONS (...)` against the session
    // catalog — the DSv2 TableProvider infers the schema (no column list
    // needed, unlike Flink) and plain SQL then reads the merged current
    // state. Pure SQL end-to-end: no DataFrame API in the query path.
    "cdc_sql_table_ddl" -> QueryDef(
      (s, dir0) => {
        val dir = prepare(s, dir0)
        val tbl = "cdc_sql_orders_" + new java.io.File(dir0).getName
          .replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl USING `graft-cdc` OPTIONS (
                 |  path '$dir', table 'orders',
                 |  `scan.startup.mode` 'initial',
                 |  `scan.incremental.snapshot.chunk.size` '1000')""".stripMargin)
        s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                 |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 |    AS sum_price
                 |FROM $tbl GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some(s"""WITH cur AS (
              |${ChangelogGen.oracleFinalStateSql(ordersSpec, orderCols, "orders")})
              |SELECT o_orderstatus, COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS sum_price
              |FROM cur GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Chunk-splitting math surfaced as data: assign every key to its chunk
    // (even split, MySqlChunkSplitter.java:267-301) and count per chunk —
    // the oracle recomputes the same arithmetic ranges in SQL.
    "cdc_chunk_assignment" -> QueryDef(
      (s, dir0) => {
        val base = Tables.load(s, dir0, "orders")
        // same stats the planner reads from meta.json
        val row = base.agg(count(lit(1)), min(col("o_orderkey")),
          max(col("o_orderkey"))).collect()(0)
        val (cnt, mn, mx) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val step = ChunkSplitter.dynamicChunkStep(mn, mx, cnt, 1000)
        base.select(
            floor((col("o_orderkey") - mn).cast("double") / step.toDouble)
              .cast("long").as("chunk_id"),
            col("o_orderkey"))
          .groupBy(col("chunk_id"))
          .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("chunk_id"))
      },
      Some("""WITH stats AS (
             |  SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders
             |), params AS (
             |  SELECT mn, GREATEST(CAST(ROUND(((mx - mn + 1.0) / cnt) * 1000) AS BIGINT), 1) AS step FROM stats
             |)
             |SELECT CAST(FLOOR((o_orderkey - mn) * 1.0 / step) AS BIGINT) AS chunk_id,
             |       COUNT(*) AS n, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
             |FROM orders, params
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Schema evolution (SURVEY §1.4): the log carries an ALTER TABLE ADD
    // COLUMN mid-stream; the source's analysis-time schema is re-derived
    // from the DDL history, pre-DDL rows decode the new column as NULL, and
    // the chunk merge applies post-DDL updates — the final state has `note`
    // set exactly on the note-updated surviving keys.
    "cdc_schema_evolution" -> QueryDef(
      (s, dir0) => {
        val dir = prepareDdl(s, dir0)
        readBatch(s, dir, "initial")
          .select((orderCols :+ "note").map(col): _*)
          .orderBy(col("o_orderkey"))
      },
      Some(ChangelogGen.oracleFinalStateWithDdlSql(ordersSpec, orderCols,
        "orders") + "\nORDER BY o_orderkey")),

    // The schema-change event stream itself (reference includeSchemaChanges,
    // MySqlRecordEmitter.java:95-107): one deterministic DDL event.
    "cdc_schema_ddl_events" -> QueryDef(
      (s, dir0) => {
        val dir = prepareDdl(s, dir0)
        SchemaHistory.eventsDf(s, dir, "orders")
          .select(col(OffsetCol), col("ddl"))
      },
      Some(s"""SELECT CAST(${ordersSpec.ddlBand} AS BIGINT) AS __offset,
              |  'ALTER TABLE orders ADD COLUMN note STRING' AS ddl""".stripMargin)),

    // Custom deserialization converters (U2,
    // MySqlDeserializationConverterFactory): SET comma-string → ARRAY,
    // WKB geometry struct → GeoJSON string, YEAR two-digit widening — all
    // decoded through the snapshot+log merge, so converted values survive
    // inserts/updates/deletes of the changelog too.
    "cdc_custom_types" -> QueryDef(
      (s, dir0) => {
        val dir = prepareTyped(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "typed")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .select(col("ck"),
            array_join(col("flags"), ",").as("flags_joined"),
            size(col("flags")).cast("long").as("n_flags"),
            col("loc").as("loc_geojson"),
            col("est").cast("long").as("est_year"),
            col("bal"))
          .orderBy(col("ck"))
      },
      Some {
        // the converted columns, recomputed from first principles over
        // `customer` (x/y are whole doubles, so Java's Double.toString and
        // '<int>.0' string-building agree exactly)
        val derived =
          """(SELECT c_custkey AS ck,
            |  concat_ws(',',
            |    CASE WHEN ((c_custkey % 7 + 1) & 1) <> 0 THEN 'NEW' END,
            |    CASE WHEN ((c_custkey % 7 + 1) & 2) <> 0 THEN 'PROMO' END,
            |    CASE WHEN ((c_custkey % 7 + 1) & 4) <> 0 THEN 'VIP' END)
            |    AS flags_joined,
            |  CAST(((c_custkey % 7 + 1) & 1)
            |    + (((c_custkey % 7 + 1) & 2) >> 1)
            |    + (((c_custkey % 7 + 1) & 4) >> 2) AS BIGINT) AS n_flags,
            |  concat('{"type":"Point","coordinates":[',
            |    CAST(c_custkey AS VARCHAR), '.0,',
            |    CAST(c_custkey % 97 AS VARCHAR),
            |    '.0],"srid":4326}') AS loc_geojson,
            |  CAST(CASE WHEN c_custkey % 100 <= 69 THEN 2000 + c_custkey % 100
            |       ELSE 1900 + c_custkey % 100 END AS BIGINT) AS est_year,
            |  c_custkey % 50 AS bal
            |FROM customer) AS typed_src""".stripMargin
        ChangelogGen.oracleFinalStateSql(typedSpec,
          Seq("ck", "flags_joined", "n_flags", "loc_geojson", "est_year",
            "bal"), derived) + "\nORDER BY ck"
      }),

    // Per-column charset decode (the capability MysqlConnectorCharsetITCase
    // pins: latin1/gbk/… tables must read back as correct strings; Debezium
    // does the byte→string decode inside the connector): wire values are
    // raw bytes in the column's declared charset, the converter decodes
    // with it — bytes like 0xE9 (latin1 'é') or GBK multibyte sequences
    // would be mojibake under a UTF-8 assumption.
    "cdc_charset_decode" -> QueryDef(
      (s, dir0) => {
        val dir = prepareCharset(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "charsets")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          .select(col("ck"), col("s_latin1"), col("s_gbk"), col("val"))
          .orderBy(col("ck"))
      },
      Some {
        val derived =
          """(SELECT c_custkey AS ck,
            |  concat('café nº ', CAST(c_custkey AS VARCHAR)) AS s_latin1,
            |  concat('数据 ', CAST(c_custkey AS VARCHAR)) AS s_gbk,
            |  c_custkey % 50 AS val
            |FROM customer) AS charset_src""".stripMargin
        ChangelogGen.oracleFinalStateSql(charsetSpec,
          Seq("ck", "s_latin1", "s_gbk", "val"), derived) + "\nORDER BY ck"
      }),

    // Mongo-specific BSON extended types through the converter hook (U2):
    // ObjectId `{"$oid":…}` → hex string, Decimal128 `{"$numberDecimal":…}`
    // → DECIMAL, UUID-subtype binary → canonical UUID string — the
    // reference's BSON conversions (MongoDBConnectorDeserializationSchema
    // .java:220-272, :565-594, :657-687), surviving the snapshot+changelog
    // merge like every converted type.
    "cdc_mongo_extended_types" -> QueryDef(
      (s, dir0) => {
        val dir = prepareMongo(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "mongoish")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .load()
          // decimal values surface as DOUBLE for the compare (the suite's
          // decimal contract, MoneyMath) — x.25 is double-exact
          .select(col("mk"), col("_id"),
            col("d128").cast(DoubleType).as("d128"), col("uid"), col("val"))
          .orderBy(col("mk"))
      },
      Some {
        val derived =
          """(SELECT c_custkey AS mk,
            |  printf('%024x', c_custkey) AS _id,
            |  CAST(CAST(CAST(c_custkey AS DECIMAL(20,4)) + 0.25
            |    AS DECIMAL(20,4)) AS DOUBLE) AS d128,
            |  concat(substr(printf('%016x', c_custkey), 1, 8), '-',
            |    substr(printf('%016x', c_custkey), 9, 4), '-',
            |    substr(printf('%016x', c_custkey), 13, 4), '-',
            |    substr(printf('%016x', c_custkey * 31), 1, 4), '-',
            |    substr(printf('%016x', c_custkey * 31), 5, 12)) AS uid,
            |  c_custkey % 50 AS val
            |FROM customer) AS mongo_src""".stripMargin
        ChangelogGen.oracleFinalStateSql(mongoSpec,
          Seq("mk", "_id", "d128", "uid", "val"), derived) + "\nORDER BY mk"
      }),

    // server-time-zone (MySqlSourceOptions.java:88-96, shift applied in
    // RowDataDebeziumDeserializeSchema.java:469-530; ITCase
    // MySqlTimezoneITCase.java): a non-UTC database emits TIMESTAMP columns
    // as ZONELESS server-local wall-clock strings — the fixture writes
    // wall clocks 8 h ahead (Asia/Shanghai, fixed +08:00 for these dates),
    // and the reader configured with that zone must land every value back
    // on the UTC epoch timeline, through snapshot AND changelog images.
    "cdc_timezone_shift" -> QueryDef(
      (s, dir0) => {
        val dir = prepareTz(s, dir0)
        s.read.format("graft-cdc")
          .option("path", dir).option("table", "tz")
          .option("scan.startup.mode", "initial")
          .option("scan.incremental.snapshot.chunk.size", "1000")
          .option("server-time-zone", "Asia/Shanghai")
          .load()
          .select(col("ok"), col("ots"), col("val"))
          .orderBy(col("ok"))
      },
      Some {
        val derived =
          """(SELECT c_custkey AS ok,
            |  TIMESTAMP '1995-06-01 00:00:00'
            |    + c_custkey * INTERVAL 1 SECOND AS ots,
            |  c_custkey % 50 AS val
            |FROM customer) AS tz_src""".stripMargin
        ChangelogGen.oracleFinalStateSql(tzSpec,
          Seq("ok", "ots", "val"), derived) + "\nORDER BY ok"
      })
  )

  private[queries] val custSpec = ChangelogGen.Spec(pk = "c_custkey",
    measure = "c_acctbal", table = "customer")
  private val custCols = Seq("c_custkey", "c_mktsegment", "c_acctbal")

  /** A DEDICATED database for the live newly-added-table query: dyn_a
    * (even customer keys) is written up front; dyn_b (odd keys) is
    * written BY THE QUERY while its stream runs, so any copy from a prior
    * run must be removed here. */
  private[queries] def prepareDynDb(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_dyn", sfDir)
    val even = Tables.load(spark, sfDir, "customer")
      .filter(col("c_custkey") <= 2000 && col("c_custkey") % 2 === 0)
    FileCdcDatabase.write(spark, dir, "dyn_a", "graft", custSpec.pk,
      snapshot = even,
      changes = ChangelogGen.changes(even, custSpec.copy(table = "dyn_a")),
      snapshotPartitions = 4)
    val b = java.nio.file.Paths.get(dir, "dyn_b")
    if (java.nio.file.Files.exists(b)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(b)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
    dir
  }

  /** Add a `customer` table to the same CDC database as `orders` — one
    * shared transaction-log offset space across tables, like a binlog. */
  private[queries] def prepareCustomer(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb", sfDir)
    val base = Tables.load(spark, sfDir, "customer")
    FileCdcDatabase.write(spark, dir, "customer", "graft", custSpec.pk,
      snapshot = base,
      changes = ChangelogGen.changes(base, custSpec),
      snapshotPartitions = 8)
    dir
  }

  /** A `customer` CDC database owned by a named schema AND tenant — the
    * fixture for the per-connector extra metadata columns (Oracle
    * `schema_name`, OceanBase `tenant_name`; a real store has one or the
    * other, the fixture sets both to exercise both columns at once). */
  private[queries] def prepareTenant(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_tenant", sfDir)
    val base = Tables.load(spark, sfDir, "customer")
    FileCdcDatabase.write(spark, dir, "customer", "graft", custSpec.pk,
      snapshot = base,
      changes = ChangelogGen.changes(base, custSpec),
      snapshotPartitions = 8,
      schemaName = Some("app"), tenant = Some("tenant_a"))
    dir
  }

  private val typedSpec = ChangelogGen.Spec(pk = "ck", measure = "bal",
    table = "typed")

  // The fixture wire rows below are NOT `private`: a private case class
  // defeats whole-stage codegen for its Dataset encoder (janino cannot
  // reference the private accessors, Spark logs a CodeGenerator compile
  // error per consumer and falls back to the interpreted path for the
  // whole fixture build).

  /** Wire row of the custom-type fixture: SET as the comma-joined string
    * Debezium emits, geometry as the (base64 WKB, srid) struct, YEAR as the
    * raw two-digit-capable int — the DECLARED schema (schemaDdlOverride)
    * types them ARRAY<STRING> / STRING / INT with `graft.type` tags, and
    * the registered converters (U2) bridge the gap at decode time. */
  private[queries] case class TypedSrcRow(ck: Long, flags: String,
      wkb: String, srid: Int, est: Int, bal: Long)

  /** Wire row of the charset fixture (base64 of latin1 and GBK bytes). */
  private[queries] case class CharsetSrcRow(ck: Long, latin1B64: String,
      gbkB64: String, v: Long)

  /** Wire row of the BSON extended-JSON fixture. */
  private[queries] case class MongoSrcRow(mk: Long, oid: String,
      decs: String, b64: String, v: Long)

  /** File CDC database exercising the custom-converter hook
    * (CustomConverters): columns whose catalog type differs from the wire
    * encoding, as MySQL SET/GEOMETRY/YEAR do through Debezium. */
  private[queries] def prepareTyped(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_typed", sfDir)
    import spark.implicits._
    val rows = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("ck")).as[Long]
      .map { ck =>
        // little-endian WKB point (byte order, type=1, x, y) — what a
        // geometry-typed column physically ships
        val bb = java.nio.ByteBuffer.allocate(21)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put(1.toByte); bb.putInt(1)
        bb.putDouble(ck.toDouble); bb.putDouble((ck % 97).toDouble)
        val wkb = java.util.Base64.getEncoder.encodeToString(bb.array())
        val m = (ck % 7 + 1).toInt // 1..7: the SET is never empty
        val flags = Seq("NEW" -> 1, "PROMO" -> 2, "VIP" -> 4)
          .collect { case (n, b) if (m & b) != 0 => n }.mkString(",")
        TypedSrcRow(ck, flags, wkb, 4326, (ck % 100).toInt, ck % 50)
      }
    val snapshot = rows.toDF().select(col("ck"), col("flags"),
      struct(col("wkb"), col("srid")).as("loc"), col("est"), col("bal"))
    FileCdcDatabase.write(spark, dir, "typed", "graft", typedSpec.pk,
      snapshot = snapshot,
      changes = ChangelogGen.changes(snapshot, typedSpec),
      snapshotPartitions = 4,
      schemaDdlOverride = Some(
        "ck BIGINT,flags ARRAY<STRING> COMMENT 'graft.type=set'," +
          "loc STRING COMMENT 'graft.type=geometry'," +
          "est INT COMMENT 'graft.type=year',bal BIGINT"))
    dir
  }

  private val tzSpec = ChangelogGen.Spec(pk = "ok", measure = "val",
    table = "tz")

  private val mongoSpec = ChangelogGen.Spec(pk = "mk", measure = "val",
    table = "mongoish")

  private val charsetSpec = ChangelogGen.Spec(pk = "ck", measure = "val",
    table = "charsets")

  /** File CDC database whose string wire values are raw bytes in non-UTF-8
    * charsets (base64-wrapped): latin1 é/º single bytes, GBK multibyte
    * hanzi — exactly what a charset-diverse MySQL ships. */
  private[queries] def prepareCharset(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_charset", sfDir)
    import spark.implicits._
    val rows = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("ck")).as[Long]
      .map { ck =>
        val b64 = java.util.Base64.getEncoder
        CharsetSrcRow(ck,
          b64.encodeToString(
            s"café nº $ck".getBytes(java.nio.charset.Charset.forName(
              "ISO-8859-1"))),
          b64.encodeToString(
            s"数据 $ck".getBytes(java.nio.charset.Charset.forName("GBK"))),
          ck % 50)
      }
    val snapshot = rows.toDF().select(col("ck"),
      col("latin1B64").as("s_latin1"), col("gbkB64").as("s_gbk"),
      col("v").as("val"))
    FileCdcDatabase.write(spark, dir, "charsets", "graft", charsetSpec.pk,
      snapshot = snapshot,
      changes = ChangelogGen.changes(snapshot, charsetSpec),
      snapshotPartitions = 4,
      schemaDdlOverride = Some(
        "ck BIGINT,s_latin1 STRING COMMENT 'graft.type=charset:ISO-8859-1'," +
          "s_gbk STRING COMMENT 'graft.type=charset:GBK',val BIGINT"))
    dir
  }

  /** File CDC database whose wire values are BSON extended JSON: ObjectId
    * `{"$oid":…}`, Decimal128 `{"$numberDecimal":…}`, UUID-subtype binary
    * `{"$binary":{"base64":…,"subType":"04"}}` — what a Mongo changelog
    * physically ships; the declared schema tags the converter per column. */
  private[queries] def prepareMongo(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_mongo", sfDir)
    import spark.implicits._
    val rows = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("mk")).as[Long]
      .map { mk =>
        val bb = java.nio.ByteBuffer.allocate(16)
        bb.putLong(mk); bb.putLong(mk * 31)
        MongoSrcRow(mk, f"$mk%024x", s"$mk.25",
          java.util.Base64.getEncoder.encodeToString(bb.array()), mk % 50)
      }
    val snapshot = rows.toDF().select(
      col("mk"),
      struct(col("oid").as("$oid")).as("_id"),
      struct(col("decs").as("$numberDecimal")).as("d128"),
      struct(struct(col("b64").as("base64"), lit("04").as("subType"))
        .as("$binary")).as("uid"),
      col("v").as("val"))
    FileCdcDatabase.write(spark, dir, "mongoish", "graft", mongoSpec.pk,
      snapshot = snapshot,
      changes = ChangelogGen.changes(snapshot, mongoSpec),
      snapshotPartitions = 4,
      schemaDdlOverride = Some(
        "mk BIGINT,_id STRING COMMENT 'graft.type=objectid'," +
          "d128 DECIMAL(20,4) COMMENT 'graft.type=decimal128'," +
          "uid STRING COMMENT 'graft.type=uuid',val BIGINT"))
    dir
  }

  /** File CDC database simulating a non-UTC server: the `ots` wire strings
    * are zoneless wall clocks in Asia/Shanghai (UTC instant + 8 h,
    * formatted), while the declared schema says TIMESTAMP — decode must
    * shift by `server-time-zone` to recover the UTC instants. */
  private[queries] def prepareTz(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_tz", sfDir)
    // UTC session: unix_timestamp parses as UTC, date_format renders UTC —
    // so rendering (instant + 8 h) zoneless IS the Shanghai wall clock
    val wallBase = unix_timestamp(lit("1995-06-01 08:00:00")
      .cast("timestamp"))
    val snapshot = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("ok"))
      .select(col("ok"),
        date_format(timestamp_seconds(wallBase + col("ok")),
          "yyyy-MM-dd'T'HH:mm:ss").as("ots"),
        (col("ok") % 50).as("val"))
    FileCdcDatabase.write(spark, dir, "tz", "graft", tzSpec.pk,
      snapshot = snapshot,
      changes = ChangelogGen.changes(snapshot, tzSpec),
      snapshotPartitions = 4,
      schemaDdlOverride = Some("ok BIGINT,ots TIMESTAMP,val BIGINT"))
    dir
  }

  /** File CDC database whose log contains the DDL + post-DDL note updates. */
  private[queries] def prepareDdl(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Artifacts.dir("cdcdb_ddl", sfDir)
    val base = Tables.load(spark, sfDir, "orders")
    FileCdcDatabase.write(spark, dir, "orders", "graft", ordersSpec.pk,
      snapshot = base,
      changes = ChangelogGen.changesWithDdl(base, ordersSpec),
      snapshotPartitions = 32)
    dir
  }
}
