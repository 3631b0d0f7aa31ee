package graft.cdc.source

import graft.cdc.ChunkSplitter.ChunkRange
import graft.cdc.dialect.{CdcDialect, CdcDialects}
import graft.cdc.{ChangeRecord, ChunkSplitter, FileCdcDatabase}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/**
 * DataSource-V2 CDC source over the file dialect — the Spark re-expression of
 * the reference's generalized incremental-snapshot framework
 * (flink-cdc-base/.../source/IncrementalSource.java:67-213, SURVEY §2.1 S11):
 *
 *   driver   = enumerator/assigner (chunk planning, offset bookkeeping —
 *              what MySqlSourceEnumerator/MySqlHybridSplitAssigner do via RPC
 *              is plain method calls + offset-log JSON here)
 *   executor = chunk read task with low/high-watermark backfill merge (W1/W2)
 *              and stream read task with per-chunk shouldEmit filter (W3)
 *
 * Startup modes mirror StartupOptions.java:39-90: initial (snapshot + log),
 * earliest (log from 0), latest (log from current).
 *
 * Scale design: the snapshot splits into chunks (default 8096 rows,
 * MySqlSourceOptions.java:104-109), and runs of consecutive chunks form the
 * InputPartitions, sized to the cluster as Spark sizes a file scan (about
 * one task per slot at small sizes, `maxPartitionBytes` apiece at large
 * ones; [[CdcPlanner.snapshotPartitionCount]]) — the reference hands its
 * chunks to N parallel readers the same way. A task reads its chunks one
 * at a time, so a 100 TB table still fans out to bounded-memory tasks
 * across the cluster. The log phase is a single ordered partition per
 * micro-batch, as in the reference (mysql-cdc.md:495).
 */
object CdcSourceConfig {
  val PathKey = "path"
  val TableKey = "table"
  /** Reference-parity alias for [[TableKey]] (`table-name`,
    * MySqlSourceOptions.java:62-66); same exact-name-or-regex semantics. */
  val TableNameKey = "table-name"
  // initial | earliest | latest | specific-offset | timestamp
  // (reference StartupOptions.java:39-90 / StartupMode.java)
  val StartupModeKey = "scan.startup.mode"
  val SpecificOffsetKey = "scan.startup.specific-offset"
  /** Mid-transaction resume refinement of [[SpecificOffsetKey]] — the
    * reference's composite BinlogOffset carries (file, pos, eventsToSkip,
    * rowsToSkip) so a reader can re-seek INSIDE a position already
    * partially processed (`scan.startup.specific-offset.skip-events` /
    * `.skip-rows`, MySqlSourceOptions.java:160-178; BinlogOffset.java).
    * Re-expressed on the linear offset space: `skip-events` advances the
    * start past N distinct change events AFTER the specific offset, and
    * `skip-rows` drops the first M EMITTED rows of the first event read
    * (an update event emits -U then +U under changelog.mode=all — a
    * resume that already delivered the -U skips one row). */
  val SkipEventsKey = "scan.startup.specific-offset.skip-events"
  val SkipRowsKey = "scan.startup.specific-offset.skip-rows"
  val TimestampKey = "scan.startup.timestamp-millis"
  /** Pre-round-4 spelling of [[TimestampKey]], kept as a fallback alias;
    * the canonical name matches the reference
    * (`scan.startup.timestamp-millis`, MySqlSourceOptions.java:180-186). */
  val TimestampLegacyKey = "scan.startup.timestamp-ms"
  val ChunkSizeKey = "scan.incremental.snapshot.chunk.size"
  /** Byte-based chunk sizing (MongoDB sizes chunks in MB —
    * `scan.incremental.snapshot.chunk.size.mb`,
    * MongoDBSourceOptions.java:130-137): when set (> 0), the row-count
    * chunk size is DERIVED as `mb·2^20 / avgRowSizeBytes` from the
    * dialect's metadata-only row-size estimate, so a wide table gets
    * proportionally fewer rows per chunk and chunk memory stays bounded
    * in BYTES. Overrides [[ChunkSizeKey]] when both are set. */
  val ChunkSizeMbKey = "scan.incremental.snapshot.chunk.size.mb"
  val ChangelogModeKey = "changelog.mode" // all | upsert
  /** Caps how far the log offset advances per micro-batch (the "keep stream
    * batches small" knob — SURVEY §7.3; reference bounds fetch batches via
    * Debezium max.batch.size). 0 = unbounded. */
  val MaxEventsPerTriggerKey = "scan.stream.max-events-per-trigger"
  /** MongoDB change-stream batch cap (`poll.max.batch.size`,
    * MongoDBSourceOptions.java:81-88): accepted as an ALIAS of
    * [[MaxEventsPerTriggerKey]] — both bound how many change events one
    * fetch (here: one micro-batch) may carry. The canonical key wins when
    * both are set. */
  val PollMaxBatchSizeKey = "poll.max.batch.size"
  /** MongoDB cursor await time (`poll.await.time.ms`,
    * MongoDBSourceOptions.java:90-97): validated and accepted as a
    * documented no-op — the micro-batch pull model has no blocking
    * change-stream cursor to await on; batch cadence belongs to the Spark
    * trigger. */
  val PollAwaitTimeMsKey = "poll.await.time.ms"
  /** MongoDB copy-existing transfer-queue bound
    * (`copy.existing.queue.size`, MongoDBSourceOptions.java:104-111):
    * validated and accepted as a documented no-op — the snapshot phase is
    * chunked DSv2 partitions pulled directly by Spark tasks; no
    * hand-rolled producer/consumer queue exists to bound. */
  val CopyExistingQueueSizeKey = "copy.existing.queue.size"
  /** Which CdcDialect serves this source (SURVEY §2.6 U5). */
  val DialectKey = "dialect"
  /** SQL statement flavor for a JDBC dialect's read path, by reference
    * connector name (db2-cdc default; oracle-cdc / postgres-cdc run their
    * double-quoted statement sets on the embedded engine — SURVEY §2.1
    * S4–S8, DialectStatements). */
  val DialectFlavorKey = "dialect.flavor"
  /** Disable incremental (chunked) snapshotting: the snapshot phase becomes
    * ONE unbounded range read — the reference's legacy single-reader
    * snapshot mode (`scan.incremental.snapshot.enabled`,
    * MySqlSourceOptions.java:44-50). Chunked is the default. */
  val IncrementalSnapshotKey = "scan.incremental.snapshot.enabled"
  /** Idle connections kept per database by a pooling dialect (reference
    * `connection.pool.size`, MySqlSourceOptions.java:141-146). */
  val ConnectionPoolSizeKey = "connection.pool.size"
  /** Override the snapshot chunk key away from the primary key (reference
    * `scan.incremental.snapshot.chunk-key.column`, MySqlSourceOptions —
    * meant for picking a better-distributed column, e.g. out of a composite
    * key). The column must be integral and KEY-STABLE (its value never
    * changes for a given primary key — the reference guarantees this by
    * restricting the choice to primary-key columns); merge identity stays
    * the primary key. */
  val ChunkKeyColumnKey = "scan.incremental.snapshot.chunk.key-column"
  /** Pre-round-4 spelling of [[ChunkKeyColumnKey]], kept as a fallback
    * alias; the canonical name matches the reference
    * (MySqlSourceOptions.java:239-247). */
  val ChunkKeyColumnLegacyKey = "scan.incremental.snapshot.chunk-key.column"
  /** Rows pulled per cursor round-trip on snapshot/log scans by a JDBC
    * dialect (reference `scan.snapshot.fetch.size`,
    * MySqlSourceOptions.java:111-116). */
  val SnapshotFetchSizeKey = "scan.snapshot.fetch.size"
  val DefaultSnapshotFetchSize = 1024
  /** Decode parallelism of the log phase: a log range fans out into at most
    * this many offset sub-ranges per table. The reference's log phase is
    * deliberately parallelism-1 (mysql-cdc.md:495) and 1 is the default;
    * at large scale a single partition caps stream throughput at one
    * core's decode rate, and consumers already order by `__offset`, never
    * by partition layout — so decode parallelism is semantics-free. */
  val LogPartitionsKey = "scan.stream.log-partitions"
  /** Cap on snapshot-phase Spark partitions. Below it the count follows
    * the cluster ([[CdcPlanner.snapshotPartitionCount]]); the cap bounds it
    * when the table's size asks for more (scheduler protection at 100 TB —
    * millions of 8096-row chunks must not become millions of tasks; cf. the
    * reference's chunk-meta groups, MySqlSourceOptions.java:199-205). */
  val MaxSnapshotPartitionsKey = "scan.snapshot.max-partitions"
  /** Even-distribution factor bounds steering arithmetic-vs-lazy splitting
    * (names and defaults from MySqlSourceOptions.java:207-231). */
  val FactorUpperKey = "chunk-key.even-distribution.factor.upper-bound"
  val FactorLowerKey = "chunk-key.even-distribution.factor.lower-bound"
  /** Point-in-time bound: the scan stops at this log offset (inclusive) —
    * a batch read returns the table state AS OF the offset ("time travel");
    * a stream drains up to it and then idles. The analogue of the newer
    * reference line's bounded reads (`scan.bounded.mode=specific-offset`).
    * -1 (default) = unbounded (read to the live log head). */
  val BoundedOffsetKey = "scan.bounded.offset"

  /** Malformed-event policy, the reference's Debezium errors.tolerance:
    * `fail` (default — stop with the offending line) or `skip` (drop
    * undecodable log lines and continue). Applies to the LOG only; the
    * snapshot is trusted storage. */
  val ParseErrorPolicyKey = "scan.parse.error-policy"

  /** Zone that zoneless TIMESTAMP wire strings are interpreted in — the
    * reference's `server-time-zone` (MySqlSourceOptions.java:88-96, applied
    * by RowDataDebeziumDeserializeSchema.java:469-530: a non-UTC MySQL
    * server emits TIMESTAMP columns as server-local wall clock, and the
    * reader must shift them to epoch). Default UTC. */
  val ServerTimeZoneKey = "server-time-zone"

  /** Comma-separated payload columns to drop at the source — the
    * reference's Debezium `column.exclude.list` (debezium docs; surfaced
    * through `DebeziumSourceFunction` properties): excluded columns never
    * leave the reader, so downstream state/sinks can't see them (PII
    * scrubbing at ingest). The primary key and the chunk key cannot be
    * excluded. */
  val ExcludeColumnsKey = "scan.exclude-columns"

  /** Prefix of passthrough options — the reference forwards every
    * `debezium.`-prefixed option to the embedded engine
    * (DebeziumOptions.java:24-41, every TableFactory calls
    * `validateExcept(DEBEZIUM_OPTIONS_PREFIX)`). The supported subset here
    * is the column-redaction grammar ([[ColumnMasks]]); other passthrough
    * keys are accepted and ignored, matching the reference's validation
    * (it never enumerates them either). */
  val DebeziumPrefix = "debezium."

  /** Debezium `skipped.operations` (passthrough under [[DebeziumPrefix]]):
    * comma list of op types dropped from the EMITTED change stream —
    * c (create), u (update), d (delete), t (truncate; accepted for grammar
    * parity, no truncate events exist here), or `none`. Affects only the
    * log phase: the snapshot merge must still apply every op or the
    * reconstructed table state would diverge from the store (Debezium's
    * snapshot likewise reads live state that already reflects skipped
    * ops). */
  val SkippedOperationsKey = "debezium.skipped.operations"

  /** The V2 session catalog qualifies a stored table's `path` option into a
    * location URI (`file:/...`) before handing it back — CREATE TABLE ...
    * USING graft-cdc surfaces it that way while direct reads pass the raw
    * path. Normalize the local-scheme forms back to a filesystem path. */
  private def stripFileScheme(p: String): String =
    if (p.startsWith("file://")) p.substring("file://".length)
    else if (p.startsWith("file:")) p.substring("file:".length)
    else p

  def fromOptions(o: CaseInsensitiveStringMap): CdcSourceConfig = {
    // grammar-parity no-ops still VALIDATE: a malformed value must fail at
    // analysis exactly as it would against the reference connector, not
    // ride along silently
    require(o.getOrDefault(PollAwaitTimeMsKey, "0").toLong >= 0,
      s"$PollAwaitTimeMsKey must be >= 0: ${o.get(PollAwaitTimeMsKey)}")
    require(o.getOrDefault(CopyExistingQueueSizeKey, "1").toLong >= 1,
      s"$CopyExistingQueueSizeKey must be >= 1: " +
        s"${o.get(CopyExistingQueueSizeKey)}")
    CdcSourceConfig(
    path = stripFileScheme(Option(o.get(PathKey)).getOrElse(
      throw new IllegalArgumentException("cdc source requires 'path'"))),
    table = Option(o.get(TableKey)).orElse(Option(o.get(TableNameKey)))
      .getOrElse(throw new IllegalArgumentException(
        "cdc source requires 'table' (or its reference alias 'table-name')")),
    startupMode = o.getOrDefault(StartupModeKey, "initial"),
    chunkSize = o.getOrDefault(ChunkSizeKey,
      ChunkSplitter.DefaultChunkSize.toString).toInt,
    chunkSizeMb = o.getOrDefault(ChunkSizeMbKey, "0").toInt,
    changelogMode = o.getOrDefault(ChangelogModeKey, "all"),
    specificOffset = o.getOrDefault(SpecificOffsetKey, "-1").toLong,
    skipEvents = o.getOrDefault(SkipEventsKey, "0").toLong,
    skipRows = o.getOrDefault(SkipRowsKey, "0").toInt,
    timestampMs = o.getOrDefault(TimestampKey,
      o.getOrDefault(TimestampLegacyKey, "-1")).toLong,
    maxEventsPerTrigger = o.getOrDefault(MaxEventsPerTriggerKey,
      o.getOrDefault(PollMaxBatchSizeKey, "0")).toLong,
    dialectName = o.getOrDefault(DialectKey, "file"),
    dialectFlavor = o.getOrDefault(DialectFlavorKey, "db2-cdc"),
    maxSnapshotPartitions = o.getOrDefault(MaxSnapshotPartitionsKey, "4096").toInt,
    logPartitions = o.getOrDefault(LogPartitionsKey, "1").toInt,
    chunkKeyColumn = Option(o.get(ChunkKeyColumnKey))
      .orElse(Option(o.get(ChunkKeyColumnLegacyKey))),
    snapshotFetchSize = o.getOrDefault(SnapshotFetchSizeKey, "1024").toInt,
    incrementalSnapshot = o.getOrDefault(IncrementalSnapshotKey, "true").toBoolean,
    connectionPoolSize = o.getOrDefault(ConnectionPoolSizeKey, "0").toInt,
    distributionFactorUpper = o.getOrDefault(FactorUpperKey,
      ChunkSplitter.DistributionFactorUpper.toString).toDouble,
    distributionFactorLower = o.getOrDefault(FactorLowerKey,
      ChunkSplitter.DistributionFactorLower.toString).toDouble,
    boundedOffset = o.getOrDefault(BoundedOffsetKey, "-1").toLong,
    parseErrorPolicy = o.getOrDefault(ParseErrorPolicyKey, "fail"),
    excludeColumns = o.getOrDefault(ExcludeColumnsKey, "").split(",")
      .map(_.trim).filter(_.nonEmpty).toSet,
    serverTimeZone = o.getOrDefault(ServerTimeZoneKey, "UTC"),
    columnMaskSpec = {
      import scala.jdk.CollectionConverters._
      val dbz = o.asCaseSensitiveMap().asScala.collect {
        // prefix matches case-insensitively, but the key passes through
        // CASE-PRESERVED: the hash grammar's salt is user text embedded in
        // the key (column.mask.hash.<algo>.with.salt.<salt>) and
        // lower-casing it would silently hash with the wrong salt; the
        // fixed grammar tokens are matched case-insensitively downstream
        case (k, v) if k.toLowerCase.startsWith(DebeziumPrefix) =>
          k.substring(DebeziumPrefix.length) -> v
      }.toMap
      ColumnMasks.encode(ColumnMasks.fromOptions(dbz))
    },
    skippedOperations = {
      val raw = o.getOrDefault(SkippedOperationsKey, "none").trim
      if (raw.isEmpty || raw == "none") Set.empty
      else raw.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    })
  }
}

case class CdcSourceConfig(
    path: String,
    table: String,
    startupMode: String,
    chunkSize: Int,
    chunkSizeMb: Int = 0,
    changelogMode: String,
    specificOffset: Long = -1L,
    skipEvents: Long = 0L,
    skipRows: Int = 0,
    timestampMs: Long = -1L,
    maxEventsPerTrigger: Long = 0L,
    dialectName: String = "file",
    dialectFlavor: String = "db2-cdc",
    maxSnapshotPartitions: Int = 4096,
    logPartitions: Int = 1,
    chunkKeyColumn: Option[String] = None,
    snapshotFetchSize: Int = 1024,
    incrementalSnapshot: Boolean = true,
    connectionPoolSize: Int = 0,
    distributionFactorUpper: Double = ChunkSplitter.DistributionFactorUpper,
    distributionFactorLower: Double = ChunkSplitter.DistributionFactorLower,
    boundedOffset: Long = -1L,
    parseErrorPolicy: String = "fail",
    excludeColumns: Set[String] = Set.empty,
    serverTimeZone: String = "UTC",
    columnMaskSpec: String = "",
    skippedOperations: Set[String] = Set.empty) {

  require(skippedOperations.subsetOf(Set("c", "u", "d", "t")),
    s"${CdcSourceConfig.SkippedOperationsKey} accepts c,u,d,t or none: " +
      skippedOperations.mkString(","))

  def dialect: CdcDialect = CdcDialects.byName(dialectName)
  // fail at analysis, not per-row on the executor (the reference validates
  // server-time-zone up front the same way, MySqlValidator)
  require(
    try { java.time.ZoneId.of(serverTimeZone); true }
    catch { case _: java.time.DateTimeException => false },
    s"${CdcSourceConfig.ServerTimeZoneKey} is not a valid zone id: " +
      s"$serverTimeZone")
  require(Set("fail", "skip").contains(parseErrorPolicy),
    s"${CdcSourceConfig.ParseErrorPolicyKey} must be fail|skip: " +
      s"$parseErrorPolicy")
  require(Set("initial", "earliest", "latest", "specific-offset", "timestamp")
    .contains(startupMode),
    s"unknown $startupMode — expected initial|earliest|latest|" +
      "specific-offset|timestamp (reference StartupOptions.java:39-90)")
  require(Set("all", "upsert").contains(changelogMode),
    "changelog.mode must be all|upsert (DebeziumChangelogMode.java:20-27)")
  require(startupMode != "specific-offset" || specificOffset >= 0,
    s"scan.startup.mode=specific-offset requires ${CdcSourceConfig.SpecificOffsetKey}")
  require(skipEvents >= 0 && skipEvents <= Int.MaxValue,
    s"${CdcSourceConfig.SkipEventsKey} out of range [0, ${Int.MaxValue}]: " +
      s"$skipEvents")
  require(skipRows >= 0,
    s"${CdcSourceConfig.SkipRowsKey} must be >= 0: $skipRows")
  // a skip without a position to skip FROM is a configuration error, not
  // a silent no-op (BinlogOffsetUtils.initializeEffectiveOffset applies
  // the skips only to a SPECIFIC_OFFSET-kind start the same way)
  require((skipEvents == 0 && skipRows == 0) ||
    startupMode == "specific-offset",
    s"${CdcSourceConfig.SkipEventsKey}/${CdcSourceConfig.SkipRowsKey} " +
      "require scan.startup.mode=specific-offset")
  require(startupMode != "timestamp" || timestampMs >= 0,
    s"scan.startup.mode=timestamp requires ${CdcSourceConfig.TimestampKey}")
  // a value past Int.MaxValue would overflow the downstream take() into a
  // no-op and silently disable the cap
  require(maxEventsPerTrigger >= 0 && maxEventsPerTrigger <= Int.MaxValue,
    s"scan.stream.max-events-per-trigger out of range [0, ${Int.MaxValue}]: " +
      s"$maxEventsPerTrigger")
  require(logPartitions >= 1,
    s"${CdcSourceConfig.LogPartitionsKey} must be >= 1: $logPartitions")
  // ≤ 0 would plan no snapshot partition (an empty read) or cut chunks
  // every `i % 0` rows
  require(maxSnapshotPartitions >= 1,
    s"${CdcSourceConfig.MaxSnapshotPartitionsKey} must be >= 1: " +
      s"$maxSnapshotPartitions")
  require(chunkSize >= 1,
    s"${CdcSourceConfig.ChunkSizeKey} must be >= 1: $chunkSize")
  require(chunkSizeMb >= 0,
    s"${CdcSourceConfig.ChunkSizeMbKey} must be >= 0: $chunkSizeMb")
  require(boundedOffset >= -1L,
    s"${CdcSourceConfig.BoundedOffsetKey} must be -1 (unbounded) or >= 0: " +
      s"$boundedOffset")

  /** Captured tables: `table` is an exact name or a regex over discovered
    * tables (reference P1 — `table-name` patterns select sharded tables with
    * one schema, TableDiscoveryUtils / BinlogSplitReader.java:104-110). */
  lazy val matchedTables: Seq[String] = {
    val m = matchingTables()
    require(m.nonEmpty, s"no table matches '$table' under $path")
    val schemas = m.map(t => dialect.tableMeta(path, t).schema).distinct
    require(schemas.size == 1,
      s"tables matched by '$table' must share one schema, got ${schemas.size}")
    m
  }

  /** Tables `table` selects among those the dialect lists now: the exact
    * name when it exists, else every name the regex matches. Fresh
    * discovery each call (unlike [[matchedTables]]' lazy cache), so a
    * stream picks up tables that newly match between batches and across
    * restarts (T6, `scan.newly-added-table.enabled` semantics). */
  def matchingTables(): Seq[String] = {
    val all = dialect.discoverTables(path)
    if (all.contains(table)) Seq(table) else all.filter(_.matches(table))
  }

  /** Meta of the first captured table (schema representative). */
  def meta: FileCdcDatabase.TableMeta =
    dialect.tableMeta(path, matchedTables.head)

  /** The snapshot split key: the configured override, else the primary key
    * (reference ChunkUtils.getChunkKeyColumn). Validated at scan start. */
  def chunkKey: String = chunkKeyColumn.getOrElse(meta.pk)

  /** Payload schema at the current log head: snapshot-time schema evolved
    * by the DDL history (SURVEY §1.4 restart-time re-derivation — the
    * running query's schema is then pinned via the partitions). */
  def payloadSchema: StructType = {
    val full = graft.cdc.SchemaHistory.effectiveSchema(path, matchedTables.head,
      // a bounded (point-in-time) read uses the schema AS OF the bound:
      // DDL past the bound must not widen the result
      if (boundedOffset >= 0L) boundedOffset else Long.MaxValue, dialect)
    // masked columns: must exist (post-exclusion), be STRING, and not be
    // the merge/split identity — fail at analysis, not mid-scan
    val masks = ColumnMasks.decode(columnMaskSpec)
    if (masks.nonEmpty) {
      val visible = full.fields.filterNot(f => excludeColumns.contains(f.name))
      masks.keys.foreach { c =>
        val f = visible.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"debezium column mask names unknown or excluded column: $c"))
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"debezium column mask on non-STRING column $c (${f.dataType})")
        require(c != meta.pk && c != chunkKey,
          s"debezium column mask cannot redact the primary/chunk key: $c")
      }
    }
    if (excludeColumns.isEmpty) full
    else {
      require(!excludeColumns.contains(meta.pk) &&
          !excludeColumns.contains(chunkKey),
        s"${CdcSourceConfig.ExcludeColumnsKey} cannot drop the primary/chunk " +
          s"key: ${excludeColumns.mkString(",")}")
      val unknown = excludeColumns -- full.fieldNames.toSet
      require(unknown.isEmpty,
        s"${CdcSourceConfig.ExcludeColumnsKey} names unknown columns: " +
          unknown.mkString(","))
      StructType(full.fields.filterNot(f => excludeColumns.contains(f.name)))
    }
  }

  /** Log head across all captured tables (offsets are one comparable space,
    * like a binlog position shared by all tables of a database), capped at
    * the bounded offset when one is configured — every planner read of
    * "the head" then sees the point-in-time bound instead. */
  def maxOffsetAll: Long = {
    val head = matchedTables.map(t => dialect.tableMeta(path, t).maxOffset).max
    if (boundedOffset >= 0L) math.min(head, boundedOffset) else head
  }
}

class CdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val cfg = CdcSourceConfig.fromOptions(options)
    CdcTable.fullSchema(cfg.payloadSchema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcTable(CdcSourceConfig.fromOptions(
      new CaseInsensitiveStringMap(properties)), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object CdcTable {
  /** The always-present metadata columns (reference exposes these via
    * SupportsReadingMetadata, MySqlReadableMetadata.java:33-86). */
  def metaFields: Seq[StructField] = Seq(
    StructField(ChangeRecord.OpCol, StringType, nullable = false),
    StructField(ChangeRecord.OffsetCol, LongType, nullable = false),
    StructField(ChangeRecord.TsCol, LongType, nullable = false),
    StructField(ChangeRecord.DbCol, StringType, nullable = false),
    StructField(ChangeRecord.TableCol, StringType, nullable = false),
    // per-connector extras — NULL where the store has no such concept
    // (Oracle schema_name, OracleReadableMetaData.java:34-99; OceanBase
    // tenant_name, OceanBaseReadableMetadata.java:28-86)
    StructField(ChangeRecord.SchemaCol, StringType, nullable = true),
    StructField(ChangeRecord.TenantCol, StringType, nullable = true))

  /** Source schema = payload columns + metadata columns; Catalyst prunes
    * unused ones and the pruning is pushed into the source decode
    * (SupportsPushDownRequiredColumns — SURVEY §2.5 P3/P5). */
  def fullSchema(payload: StructType): StructType =
    StructType(payload.fields ++ metaFields)
}

class CdcTable(cfg: CdcSourceConfig, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdc:${cfg.path}/${cfg.table}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcScanBuilder(cfg, tableSchema)
}

class CdcScanBuilder(cfg: CdcSourceConfig, schema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  /** Catalyst's required-column set reaches the source: executors decode
    * only these payload fields (P5 upgrade — the reference always reads
    * full rows, MySqlTableSource.java:56; at 100 TB pruned decode is the
    * difference between parsing 2 columns and parsing 40). */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Chunk-key predicates narrow the snapshot phase to overlapping chunks
    * (a `pk = x` point lookup reads ONE chunk at any table size). All
    * filters stay residual — Spark re-evaluates them — so pushing is
    * purely an I/O reduction, never a correctness dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => CdcKeyBounds.fromFilter(f, keyCol).isDefined)
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def keyCol: String = cfg.chunkKey

  override def build(): Scan = {
    val bounds = pushed.flatMap(CdcKeyBounds.fromFilter(_, keyCol))
      .foldLeft(CdcKeyBounds(None, None))(_ intersect _)
    new CdcScan(cfg, required, bounds)
  }
}

/** Closed interval [lo, hi] on the chunk key implied by pushed filters. */
case class CdcKeyBounds(lo: Option[Long], hi: Option[Long]) {
  def intersect(o: CdcKeyBounds): CdcKeyBounds = CdcKeyBounds(
    (lo ++ o.lo).reduceOption(_ max _), (hi ++ o.hi).reduceOption(_ min _))
  def overlaps(rangeLo: Option[Long], rangeHi: Option[Long]): Boolean =
    // chunk range is half-open [rangeLo, rangeHi); bounds are closed
    hi.forall(h => rangeLo.forall(_ <= h)) &&
      lo.forall(l => rangeHi.forall(_ > l))
  def isUnbounded: Boolean = lo.isEmpty && hi.isEmpty
}

object CdcKeyBounds {
  import org.apache.spark.sql.sources._
  /** The filter shapes that imply chunk-key bounds (numeric literals only —
    * the chunk key is integral by the dialect validator's contract). */
  def fromFilter(f: Filter, key: String): Option[CdcKeyBounds] = {
    def lit(v: Any): Option[Long] = v match {
      case l: Long => Some(l); case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
      case _ => None
    }
    f match {
      case EqualTo(c, v) if c == key =>
        lit(v).map(l => CdcKeyBounds(Some(l), Some(l)))
      case GreaterThan(c, v) if c == key =>
        lit(v).map(l => CdcKeyBounds(Some(l + 1), None))
      case GreaterThanOrEqual(c, v) if c == key =>
        lit(v).map(l => CdcKeyBounds(Some(l), None))
      case LessThan(c, v) if c == key =>
        lit(v).map(l => CdcKeyBounds(None, Some(l - 1)))
      case LessThanOrEqual(c, v) if c == key =>
        lit(v).map(l => CdcKeyBounds(None, Some(l)))
      // IN-sets (the shape runtime join filters arrive in): the value
      // envelope [min, max] is a sound chunk-pruning bound — chunks outside
      // it cannot contain any listed key
      case In(c, vs) if c == key && vs.nonEmpty =>
        val ls = vs.flatMap(lit(_))
        if (ls.length == vs.length) Some(CdcKeyBounds(Some(ls.min), Some(ls.max)))
        else None
      case _ => None
    }
  }
}

class CdcScan(cfg: CdcSourceConfig, schema: StructType,
    keyBounds: CdcKeyBounds = CdcKeyBounds(None, None))
    extends Scan with SupportsRuntimeFiltering {
  override def readSchema(): StructType = schema
  override def description(): String = s"CdcScan(${cfg.table}, ${cfg.startupMode})"
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    CdcScanMetrics.all

  /** Runtime (DPP-style) chunk pruning: a join whose build side filters the
    * chunk key hands the probe-side key set to the scan at execution time;
    * its [min,max] envelope intersects the static bounds and Spark re-plans
    * partitions — a dim-filtered fact scan reads only overlapping chunks.
    * Coarse (envelope, not membership) but sound, and free at planning
    * time. */
  @volatile private var runtimeBounds: CdcKeyBounds = CdcKeyBounds(None, None)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only when the chunk key survived column pruning: Spark resolves these
    // against the scan OUTPUT, and advertising a pruned-away column fails
    // analysis of every query that drops the key
    if (schema.fieldNames.contains(cfg.chunkKey))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(
        cfg.chunkKey))
    else Array.empty
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeBounds = filters
      .flatMap(CdcKeyBounds.fromFilter(_, cfg.chunkKey))
      .foldLeft(runtimeBounds)(_ intersect _)
  private def effectiveBounds: CdcKeyBounds = keyBounds intersect runtimeBounds
  /** Analyzed (and column-pruned) output schema — pinned here and carried
    * by every partition, so reads stay consistent even if the store's
    * schema evolves mid-query. */
  private def schemaDdl: String = schema.toDDL
  /** Scan-start validation: dialect preconditions plus the config/schema
    * cross-check — upsert changelog mode needs a primary key to collapse
    * on (the reference rejects the same combination,
    * PostgreSQLTableFactory.java:105-113). */
  private def validateAll(): Unit = {
    require(cfg.changelogMode != "upsert" ||
      cfg.matchedTables.forall(t =>
        cfg.dialect.tableMeta(cfg.path, t).pk.nonEmpty),
      "changelog.mode=upsert requires a primary-key table " +
        "(reference PostgreSQLTableFactory.java:105-113)")
    cfg.chunkKeyColumn.foreach { ck =>
      val sch = cfg.meta.schema
      require(sch.fieldNames.contains(ck),
        s"${CdcSourceConfig.ChunkKeyColumnKey}: no column '$ck' in " +
          s"table ${cfg.meta.table} (${sch.fieldNames.mkString(", ")})")
      val dt = sch(sch.fieldIndex(ck)).dataType
      require(Set[org.apache.spark.sql.types.DataType](LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(dt),
        s"${CdcSourceConfig.ChunkKeyColumnKey}: '$ck' must be integral, " +
          s"got $dt")
    }
    require(cfg.connectionPoolSize >= 0,
      s"${CdcSourceConfig.ConnectionPoolSizeKey} must be >= 0: " +
        s"${cfg.connectionPoolSize}")
    if (cfg.connectionPoolSize > 0)
      graft.cdc.dialect.JdbcCdcDialect
        .setPoolSize(cfg.path, cfg.connectionPoolSize)
    require(cfg.snapshotFetchSize > 0,
      s"${CdcSourceConfig.SnapshotFetchSizeKey} must be > 0: " +
        s"${cfg.snapshotFetchSize}")
    // write-always (including the default): a prior scan on the same path
    // with a custom fetch size must not leak into this one
    graft.cdc.dialect.JdbcCdcDialect
      .setFetchSize(cfg.path, cfg.snapshotFetchSize)
    if (cfg.dialectName == "jdbc")
      graft.cdc.dialect.JdbcCdcDialect
        .setFlavor(cfg.path, cfg.dialectFlavor)
    cfg.dialect.validate(cfg.path, cfg.matchedTables)
  }
  override def toBatch: Batch = {
    validateAll()
    new CdcBatch(cfg, schemaDdl, effectiveBounds)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    validateAll()
    new CdcMicroBatchStream(cfg, schemaDdl, keyBounds)
  }
}

/** Driver-side chunk planning shared by batch and stream paths — the
  * assigner role (MySqlHybridSplitAssigner.java:97-126). */
object CdcPlanner {
  def chunks(cfg: CdcSourceConfig, table: String): Seq[ChunkRange] = {
    // legacy single-reader snapshot: one unbounded range, no splitting
    if (!cfg.incrementalSnapshot)
      return Seq(ChunkRange(0, None, None))
    val m = cfg.dialect.tableMeta(cfg.path, table)
    val ck = cfg.chunkKey
    // store-native ranges win when the split key is the pk: one reader per
    // region/shard chunk, the reference's TiDB/Mongo-sharded behavior
    // (TableKeyRangeUtils; ShardedSplitStrategy.java:58-94)
    if (ck == m.pk) {
      cfg.dialect.storeRangeBoundaries(cfg.path, table).foreach { bs =>
        return ChunkSplitter.splitByRegionBoundaries(bs, m.minPk, m.maxPk)
      }
    }
    // chunk-key stats: meta carries them for the pk; an override asks the
    // dialect (stats SQL for JDBC, prefix-parse pass for the file dialect)
    val (mn, mx) =
      if (ck == m.pk) (m.minPk, m.maxPk)
      else cfg.dialect.columnStats(cfg.path, table, ck)
    // byte-based sizing: the row budget is derived per TABLE from the
    // dialect's metadata-only row-size estimate, so wide tables get
    // proportionally fewer rows per chunk (Mongo's chunk.size.mb /
    // avgObjSize device, MongoDBSourceOptions.java:130-137)
    val chunkRows: Int =
      if (cfg.chunkSizeMb <= 0) cfg.chunkSize
      else {
        val avg = cfg.dialect.avgRowSizeBytes(cfg.path, table).getOrElse(
          throw new IllegalArgumentException(
            s"${CdcSourceConfig.ChunkSizeMbKey}: dialect " +
              s"'${cfg.dialectName}' cannot estimate the row size of " +
              s"'$table' from metadata — size chunks in rows " +
              s"(${CdcSourceConfig.ChunkSizeKey}) instead"))
        ChunkSplitter.rowBudgetForBytes(
          cfg.chunkSizeMb.toLong * 1024 * 1024, avg)
      }
    if (!ChunkSplitter.isEvenlyDistributed(mn, mx, m.rowCount,
        cfg.distributionFactorUpper, cfg.distributionFactorLower)
        && cfg.dialect.supportsChunkMaxQuery(cfg.path))
      // uneven split pushed to the store: O(chunks) point queries
      // (SELECT MAX(pk)… LIMIT chunkSize, StatementUtils.java:99-130)
      ChunkSplitter.splitUnevenlyByQuery(mn, mx, chunkRows,
        lo => cfg.dialect.nextChunkMax(cfg.path, table, ck, lo,
          chunkRows))
    else ChunkSplitter.split(mn, mx, m.rowCount, chunkRows,
      // uneven fallback walks the snapshot's sorted chunk-key values
      () => {
        val codec = new JsonRowCodec(m.schema)
        val ckIdx = m.schema.fieldIndex(ck)
        val ckType = m.schema(ckIdx).dataType
        cfg.dialect.snapshotRecords(cfg.path, m, ck, None, None)
          .map(l => toLongKey(codec.decode(l).get(ckIdx, ckType)))
          .toSeq.sorted.iterator
      },
      cfg.distributionFactorUpper, cfg.distributionFactorLower)
  }

  /** Driver-side scan of the captured tables' logs: distinct event offsets
    * in (from, to], ascending. The file dialect reads the log files; a JDBC
    * dialect asks the database (e.g. binlog index / SHOW BINARY LOGS). */
  def offsetsBetween(cfg: CdcSourceConfig, from: Long, to: Long,
      limit: Int = Int.MaxValue): Seq[Long] =
    cfg.dialect.offsetsBetween(cfg.path, cfg.matchedTables, from, to, limit)

  /** First offset whose source timestamp is ≥ `tsMs`, minus 1 — the startup
    * position for timestamp mode (reference seeks the binlog by timestamp,
    * SeekBinlogToTimestampFilter / BinlogOffsetKind.TIMESTAMP). */
  def offsetForTimestamp(cfg: CdcSourceConfig, tsMs: Long): Long =
    cfg.dialect.offsetForTimestamp(cfg.path, cfg.matchedTables, tsMs)

  /** Effective start for specific-offset mode: the configured position
    * advanced past `skip-events` distinct change events — the linear-space
    * analogue of BinlogOffsetUtils.initializeEffectiveOffset applying
    * BinlogOffset.eventsToSkip during the reader's re-seek. Skipping past
    * the log head starts at the head (nothing left to skip into). */
  def resolveSpecificOffset(cfg: CdcSourceConfig, maxOff: Long): Long =
    if (cfg.skipEvents <= 0L) cfg.specificOffset
    else {
      val hops = offsetsBetween(cfg, cfg.specificOffset, maxOff,
        cfg.skipEvents.toInt)
      if (hops.size < cfg.skipEvents) maxOff else hops.last
    }

  def toLongKey(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case d: Decimal => d.toLong
    case other => throw new UnsupportedOperationException(
      s"non-integral chunk key: $other (reference limits even split to " +
        "BIGINT/INT/DECIMAL, MySqlChunkSplitter.java:385-395)")
  }

  /** The snapshot phase's Spark partitions: runs of consecutive chunks,
    * [[snapshotPartitionCount]] of them, balanced to within one chunk
    * (scale note on [[SnapshotChunkPartition]]). Chunks outside pushed key
    * bounds are dropped first (a point lookup plans one chunk). */
  def snapshotPartitions(cfg: CdcSourceConfig, table: String, high: Long,
      schemaDdl: String,
      bounds: CdcKeyBounds = CdcKeyBounds(None, None)): Seq[InputPartition] = {
    val all = chunks(cfg, table)
    val cs = all.filter(c => bounds.overlaps(c.lo, c.hi)).toIndexedSeq
    val n = snapshotPartitionCount(cfg, table, cs.size, all.size)
    (0 until n).map { i =>
      // Long products: millions of chunks times thousands of partitions
      val g = cs.slice((i.toLong * cs.size / n).toInt,
        ((i + 1).toLong * cs.size / n).toInt)
      SnapshotChunkPartition(cfg.dialectName, cfg.path, table, i,
        g.map(c => (c.lo, c.hi)), high, schemaDdl, cfg.chunkKey,
        cfg.parseErrorPolicy, cfg.serverTimeZone, cfg.columnMaskSpec)
    }
  }

  /** How many partitions `kept` of a table's `total` chunks become, sized
    * to the cluster the way Spark sizes a file scan — the reference hands
    * its chunks round-robin to N parallel readers, N = the job's
    * parallelism (MySqlSourceEnumerator.java:178-230):
    *
    *   n = min(kept, max-partitions, max(P, ceil(estBytes / maxPartitionBytes)))
    *
    * P is `spark.sql.leafNodeDefaultParallelism` when set, else the
    * cluster's default parallelism (Spark's rule for leaf scans); estBytes
    * is the kept chunks' share of the dialect's metadata-only table size
    * (avgRowSizeBytes × rowCount). A dialect that cannot estimate counts
    * every chunk as maxPartitionBytes, which leaves one chunk per
    * partition up to the cap. */
  def snapshotPartitionCount(cfg: CdcSourceConfig, table: String,
      kept: Int, total: Int): Int = {
    val spark = SparkSession.active
    val maxBytes = JavaUtils.byteStringAsBytes(
      spark.conf.get(SQLConf.FILES_MAX_PARTITION_BYTES.key))
    val p = spark.conf.getOption(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM.key)
      .fold(spark.sparkContext.defaultParallelism)(_.toInt)
    val estBytes: Double = cfg.dialect.avgRowSizeBytes(cfg.path, table)
      .map(_.toDouble * cfg.dialect.tableMeta(cfg.path, table).rowCount *
        kept / math.max(1, total))
      .getOrElse(kept.toDouble * maxBytes)
    val byBytes = math.ceil(estBytes / maxBytes).toLong
    math.min(kept.toLong, math.min(cfg.maxSnapshotPartitions.toLong,
      math.max(p.toLong, byBytes))).toInt
  }

  /** Partitions for a fully-specified read: per captured table, snapshot
    * chunks at a uniform high watermark and/or one ordered log range. */
  def plan(cfg: CdcSourceConfig, withSnapshot: Boolean, snapshotHigh: Long,
      logFrom: Long, logTo: Long, schemaDdl: String,
      bounds: CdcKeyBounds = CdcKeyBounds(None, None),
      skipRows: Int = 0): Array[InputPartition] =
    cfg.matchedTables.flatMap { table =>
      val snap: Seq[InputPartition] =
        if (withSnapshot)
          snapshotPartitions(cfg, table, snapshotHigh, schemaDdl, bounds)
        else Seq.empty
      // finished-chunk high watermarks drive the stream-phase shouldEmit
      // filter (BinlogSplitReader.shouldEmit, :222-273). With a static
      // file snapshot all chunks share one high == logFrom.
      snap ++ logPartitions(cfg, table, logFrom, logTo, schemaDdl, skipRows)
    }.toArray

  /** One table's log range (from, to] as ordered partitions, none when
    * to ≤ from. Rows-to-skip target the FIRST event past the seek position,
    * which lives in the range starting at `from`; the others skip none. */
  def logPartitions(cfg: CdcSourceConfig, table: String, from: Long, to: Long,
      schemaDdl: String, skipRows: Int): Seq[InputPartition] =
    logRanges(from, to, cfg.logPartitions).map { case (lo, hi) =>
      LogRangePartition(cfg.dialectName, cfg.path, table,
        lo, hi, cfg.changelogMode, schemaDdl, cfg.parseErrorPolicy,
        cfg.serverTimeZone, cfg.columnMaskSpec,
        cfg.skippedOperations.toSeq.sorted.mkString(","),
        skipRows = if (lo == from) skipRows else 0)
    }

  /** Fan a log range (from, to] into ≤ k contiguous offset sub-ranges —
    * the decode-parallelism scale hedge (LogPartitionsKey). Offsets are a
    * total order, so sub-ranges tile exactly: (b0=from, b1], (b1, b2] …
    * (b_{n-1}, bn=to]. */
  def logRanges(from: Long, to: Long, k: Int): Seq[(Long, Long)] = {
    val n = math.max(1L, math.min(k.toLong, to - from)).toInt
    // span * i is evaluated in BigInt: a Long intermediate overflows for
    // very large offset spans (e.g. timestamp-like offsets), yielding
    // malformed boundaries
    val span = BigInt(to) - BigInt(from)
    val bounds = (0 to n).map(i => (BigInt(from) + span * i / n).toLong)
    bounds.sliding(2).collect {
      case Seq(lo, hi) if hi > lo => (lo, hi)
    }.toSeq
  }
}

class CdcBatch(cfg: CdcSourceConfig, schemaDdl: String,
    bounds: CdcKeyBounds = CdcKeyBounds(None, None)) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val maxOff = cfg.maxOffsetAll
    cfg.startupMode match {
      // current state: chunks merged up to the current log end (W2)
      case "initial" => CdcPlanner.plan(cfg, withSnapshot = true,
        snapshotHigh = maxOff, logFrom = maxOff, logTo = maxOff, schemaDdl,
        bounds)
      // full history replay, no snapshot phase
      case "earliest" => CdcPlanner.plan(cfg, withSnapshot = false,
        snapshotHigh = 0L, logFrom = 0L, logTo = maxOff, schemaDdl)
      case "latest" => Array.empty
      // replay from a known position / timestamp (T3/T4); skip-events is
      // resolved into the start offset, skip-rows rides to the reader of
      // the first range (mid-transaction resume, BinlogOffset semantics)
      case "specific-offset" => CdcPlanner.plan(cfg, withSnapshot = false,
        snapshotHigh = 0L,
        logFrom = CdcPlanner.resolveSpecificOffset(cfg, maxOff),
        logTo = maxOff, schemaDdl, skipRows = cfg.skipRows)
      case "timestamp" => CdcPlanner.plan(cfg, withSnapshot = false,
        snapshotHigh = 0L,
        logFrom = CdcPlanner.offsetForTimestamp(cfg, cfg.timestampMs),
        logTo = maxOff, schemaDdl)
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory()
}

/** Streaming offset: assigner state as JSON (SURVEY §4 — the reference's
  * PendingSplitsState serialized into the offset log). `snapshotted` is the
  * set of tables whose snapshot phase completed; a table discovered later
  * (newly matching the table regex) is missing from it, which makes the
  * next batch snapshot it — the reference's newly-added-table flow
  * (T6: AssignerStatus suspend → snapshot new tables → resume,
  * MySqlSourceReader.java:147-241) becomes pure offset bookkeeping here. */
case class CdcStreamOffset(logOffset: Long, snapshotted: Seq[String])
    extends Offset {
  override def json(): String = {
    val ts = snapshotted.sorted.map(t => "\"" + t + "\"").mkString("[", ",", "]")
    s"""{"logOffset":$logOffset,"snapshotted":$ts}"""
  }
}

object CdcStreamOffset {
  def fromJson(s: String): CdcStreamOffset = {
    val n = FileCdcDatabase.mapper.readTree(s)
    val ts = Option(n.get("snapshotted"))
      .map(a => (0 until a.size()).map(a.get(_).asText()))
      .getOrElse(Seq.empty)
    CdcStreamOffset(n.get("logOffset").asLong(), ts.toSeq)
  }
}

class CdcMicroBatchStream(cfg: CdcSourceConfig, schemaDdl: String,
    bounds: CdcKeyBounds = CdcKeyBounds(None, None))
    extends MicroBatchStream with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  /** Source metrics in StreamingQueryProgress (reference
    * SourceReaderMetrics: fetch/emit lag — here, how far the consumed
    * offset trails the log head, plus `currentFetchEventTimeLag` = wall
    * clock − source ts of the newest consumed event, the reference's
    * fetchTime − messageTimestamp analogue. -1 = no event consumed yet
    * (the reference reports UNDEFINED the same way). */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val head = cfg.maxOffsetAll
    val consumed =
      if (latestConsumedOffset.isPresent)
        toStreamOffset(latestConsumedOffset.get).logOffset
      else -1L
    val lag =
      if (consumed < 0) -1L
      else cfg.dialect
        .eventTimeOfOffset(cfg.path, cfg.matchedTables, consumed)
        .map(ts => math.max(0L, System.currentTimeMillis() - ts))
        .getOrElse(-1L)
    java.util.Map.of(
      "logHeadOffset", head.toString,
      "consumedOffset", consumed.toString,
      "pendingOffsets", math.max(0L, head - math.max(consumed, 0L)).toString,
      "currentFetchEventTimeLag", lag.toString)
  }

  /** Specific-offset start with skip-events applied; resolved once — the
    * skip target is fixed by configuration, not by when planning runs. */
  private lazy val specificStart: Long =
    CdcPlanner.resolveSpecificOffset(cfg, cfg.maxOffsetAll)

  override def initialOffset(): Offset = cfg.startupMode match {
    // initial: nothing snapshotted yet — first batch snapshots everything
    case "initial" => CdcStreamOffset(-1L, Seq.empty)
    // the rest skip the snapshot phase: mark current tables as done
    case "earliest" => CdcStreamOffset(0L, cfg.matchingTables())
    case "latest" => current()
    case "specific-offset" =>
      CdcStreamOffset(specificStart, cfg.matchingTables())
    case "timestamp" => CdcStreamOffset(
      CdcPlanner.offsetForTimestamp(cfg, cfg.timestampMs),
      cfg.matchingTables())
  }

  private def current(): CdcStreamOffset =
    CdcStreamOffset(cfg.maxOffsetAll, cfg.matchingTables())

  /** Trigger.AvailableNow support: pin the end offset once, drain to it. */
  @volatile private var availableTarget: CdcStreamOffset = _
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = current()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** End offset for the next batch: the pinned/current log head, rate-
    * limited to `max-events-per-trigger` distinct offsets past `start`
    * (SURVEY §7.3 — the stream phase is one ordered partition, so batches
    * must stay small; AvailableNow then drains in several micro-batches).
    * A batch that snapshots tables is never capped — the cap applies to
    * log replay only. */
  /** Offsets recovered from the WAL after an uncommitted batch arrive as
    * raw SerializedOffset JSON, not our case class — the failover path
    * (kill mid-batch, restart) hits every cast here, so coerce by json. */
  private def toStreamOffset(o: Offset): CdcStreamOffset = o match {
    case c: CdcStreamOffset => c
    case other => CdcStreamOffset.fromJson(other.json())
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = toStreamOffset(start)
    val target = if (availableTarget != null) availableTarget else current()
    val hasNewTables = !target.snapshotted.forall(s.snapshotted.contains)
    if (hasNewTables || cfg.maxEventsPerTrigger <= 0) target
    else {
      // cfg validated maxEventsPerTrigger ≤ Int.MaxValue; the dialect stops
      // enumerating after `limit` offsets past `start` (no full-log rescan
      // per trigger)
      val step = CdcPlanner.offsetsBetween(cfg, s.logOffset,
        target.logOffset, cfg.maxEventsPerTrigger.toInt)
      if (step.isEmpty) target
      else CdcStreamOffset(step.last, target.snapshotted)
    }
  }
  override def reportLatestOffset(): Offset = current()

  /** Heartbeat semantics (T5) fall out of micro-batching: the offset
    * advances to the current log end even when no rows flow. */
  override def latestOffset(): Offset = current()

  /** Per table: not yet snapshotted → hybrid chunk merge to the batch-end
    * watermark (log ≤ high is consumed by the merge, not re-emitted —
    * W2/W3); already snapshotted → log range (s.logOffset, e.logOffset]. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = toStreamOffset(start)
    val e = toStreamOffset(end)
    e.snapshotted.flatMap { table =>
      if (!s.snapshotted.contains(table))
        CdcPlanner.snapshotPartitions(cfg, table, e.logOffset, schemaDdl,
          bounds)
      else {
        // skip-rows apply exactly when this batch starts AT the resolved
        // specific offset — i.e. the stream's first log batch (a WAL
        // replay of that batch re-plans identically, keeping the restart
        // exactly-once)
        val skipRows =
          if (cfg.startupMode == "specific-offset" && cfg.skipRows > 0 &&
              s.logOffset == specificStart) cfg.skipRows
          else 0
        CdcPlanner.logPartitions(cfg, table, s.logOffset, e.logOffset,
          schemaDdl, skipRows)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory()

  override def deserializeOffset(json: String): Offset =
    CdcStreamOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
