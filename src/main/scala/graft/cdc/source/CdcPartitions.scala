package graft.cdc.source

import graft.cdc.dialect.CdcDialects
import graft.cdc.{ChangeRecord, FileCdcDatabase}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/**
 * Executor-side read tasks of the CDC source.
 *
 * [[SnapshotChunkReader]] implements the DBLog-style chunk read (SURVEY §2.3
 * W1/W2, public algorithm arXiv:2010.12597): capture low watermark (0 — the
 * file snapshot's fixed point), read the chunk's rows, then replay the log
 * slice (low, high] restricted to the chunk's key range and merge by key —
 * CREATE/UPDATE replace, DELETE removes — exactly the normalization in the
 * reference's RecordUtils.upsertBinlog (RecordUtils.java:77-114). Output rows
 * are snapshot-kind inserts with ts 0 (RecordUtils.java:117-148).
 *
 * [[LogRangeReader]] is the stream-phase task: events in (from, to], with the
 * per-key shouldEmit gate (BinlogSplitReader.java:222-273) — here the
 * finished chunks share one high watermark (== from), so the gate reduces to
 * the range lower bound, but duplicates from the snapshot merge are provably
 * excluded either way.
 *
 * Memory bound: a snapshot partition holds many chunks but merges one at a
 * time, so it holds ≤ chunk-size merged rows (default 8096) plus its span's
 * overlay; the log reader streams line by line. Both hold O(chunk + span
 * changes), not O(table).
 * The W2 backfill holds, per executor, the routed lines of the log slice
 * (≤ [[SnapshotOverlayCache.MaxEntries]] lines, soft-referenced), and per
 * partition an overlay of its span's log-touched keys, indexed by chunk
 * key: applying it to a chunk range costs O(log E + m log m) for the m of
 * its E entries in that range, not O(E) per range.
 *
 * Read cost: each chunk range reads only its own snapshot window (the
 * dialect seeks to it), and each partition decodes only the log lines of
 * its own key span, so a full read decodes every snapshot line once and
 * every log line about once (unroutable lines once per partition).
 *
 * Both readers decode lines through [[JsonRowCodec]]'s single-pass decoder;
 * a line it declines takes the Jackson tree decode, so rows, nulls and
 * parse-error-policy outcomes are the tree decode's.
 */
/** Partitions carry their payload schema DDL (resolved on the driver from
  * the snapshot schema + DDL history at analysis time) — the same move as
  * the reference's snapshot splits carrying their `TableChange` schemas
  * (MySqlSnapshotSplit.tableSchemas, SURVEY §1.4): executors decode with
  * exactly the analyzed schema, never a fresher one.
  *
  * A snapshot partition holds a run of consecutive chunk ranges: one task
  * per chunk pays task launch and reader set-up once per 8096 rows, and at
  * 100 TB would melt the scheduler. The planner sizes the partition count
  * to the cluster as Spark sizes a file scan — about one per slot, more
  * when the table's estimated bytes exceed `maxPartitionBytes` per slot,
  * at most `scan.snapshot.max-partitions`
  * ([[CdcPlanner.snapshotPartitionCount]]) — as the reference hands its
  * chunks to N parallel readers (MySqlSourceEnumerator.java:178-230). The
  * reader still merges ONE chunk at a time, so task memory stays
  * O(chunk + span changes), not O(group). */
case class SnapshotChunkPartition(dialect: String, path: String,
    table: String, chunkId: Int,
    ranges: Seq[(Option[Long], Option[Long])],
    high: Long, schemaDdl: String,
    chunkKey: String = "",
    parsePolicy: String = "fail",
    serverTimeZone: String = "UTC",
    maskSpec: String = "") extends InputPartition

case class LogRangePartition(dialect: String, path: String, table: String,
    from: Long, to: Long, changelogMode: String,
    schemaDdl: String,
    parsePolicy: String = "fail",
    serverTimeZone: String = "UTC",
    maskSpec: String = "",
    skippedOps: String = "",
    /** Emitted rows of this range's FIRST event to drop — the
      * mid-transaction resume of BinlogOffset.rowsToSkip; nonzero only on
      * the range starting at a specific-offset seek position. */
    skipRows: Int = 0) extends InputPartition

class CdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: SnapshotChunkPartition => new SnapshotChunkReader(p)
      case p: LogRangePartition => new LogRangeReader(p)
    }
}

/** Shared envelope-line decoding (the P2 projection: envelope → typed row).
  *
  * `schemaDdl` is the partition-carried OUTPUT schema: the analyzed table
  * schema after Catalyst column pruning — payload columns interleaved (in
  * original order) with whichever metadata columns the query references.
  * Decode runs over only the required payload fields (plus the chunk key,
  * which the merge always needs) — at 100 TB a 2-column projection over a
  * 40-column table must not JSON-decode the other 38. */
private[source] class EnvelopeDecoder(dialectName: String, path: String,
    table: String, schemaDdl: String, chunkKeyOpt: String = "",
    parsePolicy: String = "fail", serverTimeZone: String = "UTC",
    maskSpec: String = "") {
  val dialect = CdcDialects.byName(dialectName)
  val meta: FileCdcDatabase.TableMeta = dialect.tableMeta(path, table)
  /** Snapshot split key: pk unless overridden (chunk-key.column). Range
    * membership uses this; merge identity always uses the pk. */
  val chunkKey: String =
    if (chunkKeyOpt == null || chunkKeyOpt.isEmpty) meta.pk else chunkKeyOpt

  /** Output schema (payload subset + metadata subset), as analyzed. */
  val outSchema: StructType =
    if (schemaDdl == null || schemaDdl.isEmpty)
      StructType(meta.schema.fields ++ CdcTable.metaFields)
    else StructType.fromDDL(schemaDdl)

  private val metaNames = ChangeRecord.MetaCols.toSet
  /** Requested payload columns, in output order. */
  val payload: StructType =
    StructType(outSchema.fields.filterNot(f => metaNames.contains(f.name)))
  /** Decode schema = requested payload + pk and chunk key if pruned away
    * (the merge always needs the identity; range checks need the split
    * key). */
  val decodeSchema: StructType = {
    val need = Seq(meta.pk, chunkKey).distinct
      .filterNot(payload.fieldNames.contains)
    StructType(payload.fields ++
      need.map(n => meta.schema(meta.schema.fieldIndex(n))))
  }

  val codec = new JsonRowCodec(decodeSchema, serverTimeZone)
  val pkIdx: Int = decodeSchema.fieldIndex(meta.pk)
  val pkType = decodeSchema(pkIdx).dataType
  val ckIdx: Int = decodeSchema.fieldIndex(chunkKey)
  val ckType = decodeSchema(ckIdx).dataType

  case class Env(offset: Long, op: String, ts: Long,
      before: InternalRow, after: InternalRow) {
    private def img: InternalRow = if (after != null) after else before
    /** Merge identity (primary key). */
    def key: Long = CdcPlanner.toLongKey(img.get(pkIdx, pkType))
    /** Range membership (chunk key; key-stable by contract). */
    def chunkKeyVal: Long = CdcPlanner.toLongKey(img.get(ckIdx, ckType))
  }

  // meta longs must be integral JSON numbers: Jackson's asLong() coerces a
  // string/null/object to 0, which would mint a phantom offset-0 event
  // instead of surfacing the malformed line to the parse-error policy
  private def requireLong(n: com.fasterxml.jackson.databind.JsonNode,
      field: String): Long = {
    val v = n.get(field)
    require(v != null && v.canConvertToLong,
      s"envelope field '$field' is not an integral number: $v")
    v.asLong()
  }

  /** Single-pass decode (see [[JsonRowCodec]]); a declined line takes the
    * tree path, so the outcome is always [[decodeEnvelopeTree]]'s. */
  def decodeEnvelope(line: String): Env = {
    val r = codec.decodeEnvelopeSinglePass(line)
    if (r == null) decodeEnvelopeTree(line)
    else Env(r.getLong(0), r.get(1, StringType).asInstanceOf[String],
      r.getLong(2), r.getStruct(3, decodeSchema.size),
      r.getStruct(4, decodeSchema.size))
  }

  def decodeEnvelopeTree(line: String): Env = {
    val n = codec.parse(line)
    Env(
      requireLong(n, ChangeRecord.OffsetCol),
      n.get(ChangeRecord.OpCol).asText(),
      requireLong(n, ChangeRecord.TsCol),
      codec.convertStruct(n.get(ChangeRecord.BeforeCol), decodeSchema),
      codec.convertStruct(n.get(ChangeRecord.AfterCol), decodeSchema))
  }

  /** [[decodeEnvelope]] under the parse-error policy (the reference's
    * Debezium errors.tolerance): None = line dropped (`skip`); `fail`
    * rethrows with the offending line's prefix for diagnosis. */
  def decodeEnvelopeSafe(line: String): Option[Env] =
    try Some(decodeEnvelope(line))
    catch {
      case scala.util.control.NonFatal(e) =>
        if (parsePolicy == "skip") None
        else throw new IllegalStateException(
          s"undecodable log line for $table (scan.parse.error-policy=fail): " +
            s"'${line.take(120)}'", e)
    }

  // out position -> decodeSchema position (payload) or -1-tag (meta col)
  private val MetaOp = -1; private val MetaOffset = -2; private val MetaTs = -3
  private val MetaDb = -4; private val MetaTable = -5
  private val MetaSchema = -6; private val MetaTenant = -7
  private val outMap: Array[Int] = outSchema.fields.map { f =>
    f.name match {
      case ChangeRecord.OpCol => MetaOp
      case ChangeRecord.OffsetCol => MetaOffset
      case ChangeRecord.TsCol => MetaTs
      case ChangeRecord.DbCol => MetaDb
      case ChangeRecord.TableCol => MetaTable
      case ChangeRecord.SchemaCol => MetaSchema
      case ChangeRecord.TenantCol => MetaTenant
      case n => decodeSchema.fieldIndex(n)
    }
  }
  // hoisted: per-row Option.map / fromString allocation is decode-loop
  // hot-path cost
  private val metaDb: UTF8String = UTF8String.fromString(meta.db)
  private val metaTable: UTF8String = UTF8String.fromString(meta.table)
  private val metaSchemaName: UTF8String =
    meta.schemaName.map(UTF8String.fromString).orNull
  private val metaTenant: UTF8String =
    meta.tenant.map(UTF8String.fromString).orNull

  /** Capture-time mask rule per decodeSchema slot (null = pass-through) —
    * applied at emit so BOTH images of every change event and all snapshot
    * rows leave the reader already redacted (Debezium applies its
    * column.mask/truncate options at the same point: before the record is
    * handed to the pipeline). Pruned-away masked columns cost nothing. */
  private val maskers: Array[ColumnMasks.Rule] = {
    val rules = ColumnMasks.decode(maskSpec)
    decodeSchema.fields.map(f => rules.getOrElse(f.name, null))
  }

  /** Project a decoded image + event metadata onto the output schema;
    * `op` is one of the [[EnvelopeDecoder]] row-kind constants. */
  def emit(img: InternalRow, op: UTF8String, offset: Long, ts: Long): InternalRow = {
    val out = new GenericInternalRow(outSchema.size)
    var i = 0
    while (i < outSchema.size) {
      outMap(i) match {
        case MetaOp => out.update(i, op)
        case MetaOffset => out.update(i, offset)
        case MetaTs => out.update(i, ts)
        case MetaDb => out.update(i, metaDb)
        case MetaTable => out.update(i, metaTable)
        case MetaSchema => out.update(i, metaSchemaName)
        case MetaTenant => out.update(i, metaTenant)
        case j => out.update(i,
          if (img.isNullAt(j)) null
          else if (maskers(j) != null)
            maskers(j)(img.get(j, decodeSchema(j).dataType)
              .asInstanceOf[UTF8String])
          else img.get(j, decodeSchema(j).dataType))
      }
      i += 1
    }
    out
  }

  /** Log lines with offsets in (from, to] — dialect-served (a seek to the
    * range's window of the offset-sorted files in the file dialect). */
  def logLinesInRange(from: Long, to: Long): Iterator[String] =
    dialect.logLines(path, table, from, to)

  /** Snapshot lines possibly overlapping the chunk range [lo, hi) on the
    * chunk key — dialect-served (file pruning via per-file PK stats + a
    * seek to the range's window in the file dialect; SQL range pushdown in
    * a JDBC dialect). */
  def snapshotLines(lo: Option[Long], hi: Option[Long]): Iterator[String] =
    dialect.snapshotLines(path, meta, chunkKey, lo, hi)
}

private[source] object EnvelopeDecoder {
  /** Emitted row kinds as UTF8String constants (UTF8String is immutable,
    * so every emitted row can share them). */
  val Insert: UTF8String = UTF8String.fromString(ChangeRecord.RowKind.Insert)
  val UpdateBefore: UTF8String =
    UTF8String.fromString(ChangeRecord.RowKind.UpdateBefore)
  val UpdateAfter: UTF8String =
    UTF8String.fromString(ChangeRecord.RowKind.UpdateAfter)
  val Delete: UTF8String = UTF8String.fromString(ChangeRecord.RowKind.Delete)
}

/** Final surviving state of one log-touched key: its chunk-key value
  * (range membership at apply time) and newest (offset, image), None =
  * deleted. */
private[source] case class OverlayEntry(ckVal: Long,
    value: Option[(Long, InternalRow)])

/** One log pass's merge state: the surviving entry of every log-touched
  * key, in log order (the order the keys were first touched), plus the
  * newest TRUNCATE offset seen in the slice (0 = none) — the death frontier
  * the merge applies to snapshot rows and pre-truncate writes alike.
  *
  * Entries are held in primitive arrays indexed by log position, with a
  * permutation sorted by chunk key built once per overlay, so each chunk
  * range finds its own entries by binary search: applying one range costs
  * O(log E + m log m) for E entries of which m fall in the range, not a
  * scan of all E entries per range. */
private[source] final class SnapshotOverlay private (
    keys: Array[Long], ckVals: Array[Long], live: Array[Boolean],
    offsets: Array[Long], images: Array[InternalRow],
    val truncateOffset: Long) {
  def size: Int = keys.length

  /** Log positions sorted by chunk key (stable, so ties keep log order),
    * and the chunk keys in that order for the binary search. */
  private val byCk: Array[Int] = SnapshotOverlay.sortedByKey(ckVals)
  private val sortedCk: Array[Long] = byCk.map(ckVals(_))

  def ckVal(i: Int): Long = ckVals(i)

  /** First position in `sortedCk` whose key is >= k. */
  private def lowerBound(k: Long): Int = {
    var lo = 0; var hi = sortedCk.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedCk(mid) < k) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Log positions of the entries whose chunk key lies in [lo, hi), in
    * log order. */
  def indicesInRange(lo: Option[Long], hi: Option[Long]): Array[Int] = {
    val from = lo.fold(0)(lowerBound)
    val to = hi.fold(sortedCk.length)(lowerBound)
    if (from >= to) Array.emptyIntArray
    else {
      val idx = java.util.Arrays.copyOfRange(byCk, from, to)
      java.util.Arrays.sort(idx)
      idx
    }
  }

  /** Apply entry `i` to a chunk's rows by pk: CREATE/UPDATE replace,
    * DELETE removes, and a write older than the truncate removes. */
  def applyEntry(byKey: mutable.LinkedHashMap[Long, (Long, InternalRow)],
      i: Int): Unit =
    if (live(i) && offsets(i) > truncateOffset)
      byKey(keys(i)) = (offsets(i), images(i))
    else byKey.remove(keys(i))

  /** Apply every entry of the chunk range [lo, hi), in log order. */
  def applyRange(byKey: mutable.LinkedHashMap[Long, (Long, InternalRow)],
      lo: Option[Long], hi: Option[Long]): Unit =
    indicesInRange(lo, hi).foreach(applyEntry(byKey, _))
}

private[source] object SnapshotOverlay {
  def apply(entries: mutable.LinkedHashMap[Long, OverlayEntry],
      truncateOffset: Long): SnapshotOverlay = {
    val n = entries.size
    val keys = new Array[Long](n); val ckVals = new Array[Long](n)
    val live = new Array[Boolean](n); val offsets = new Array[Long](n)
    val images = new Array[InternalRow](n)
    var i = 0
    entries.foreach { case (k, e) =>
      keys(i) = k
      ckVals(i) = e.ckVal
      e.value.foreach { case (off, img) =>
        live(i) = true; offsets(i) = off; images(i) = img
      }
      i += 1
    }
    new SnapshotOverlay(keys, ckVals, live, offsets, images, truncateOffset)
  }

  /** Stable sort of positions 0 until keys.length by key (merge sort over
    * primitive arrays: no boxing at the 2^20-entry cap). */
  private def sortedByKey(keys: Array[Long]): Array[Int] = {
    val idx = Array.tabulate(keys.length)(identity)
    val tmp = new Array[Int](keys.length)
    def sort(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      sort(lo, mid); sort(mid, hi)
      if (keys(idx(mid - 1)) > keys(idx(mid))) {
        System.arraycopy(idx, lo, tmp, lo, hi - lo)
        var a = lo; var b = mid; var o = lo
        while (o < hi) {
          if (b >= hi || (a < mid && keys(tmp(a)) <= keys(tmp(b)))) {
            idx(o) = tmp(a); a += 1
          } else { idx(o) = tmp(b); b += 1 }
          o += 1
        }
      }
    }
    sort(0, keys.length)
    idx
  }
}

/** The log slice (0, high] of one table, routed by chunk key without
  * decoding — the shared half of the W2 backfill. Each line's chunk key is
  * probed as the span-filtered overlay build prefilters it
  * ([[FileCdcDatabase.quickNestedLongField]]); a line the probe cannot
  * route ([[FileCdcDatabase.NoLong]]: truncates, DDL, malformed lines)
  * goes to every span. So a span's build over [[linesFor]] sees exactly
  * the lines its full-scan build would decode, in the same order. */
private[source] final class BackfillRouting private (lines: Array[String],
    keys: Array[Long]) {
  /** The lines routed into the span [lo, hi) plus every unroutable line,
    * in log order: one pass over the probed keys, nothing decoded. */
  def linesFor(lo: Option[Long], hi: Option[Long]): Iterator[String] = {
    val l = lo.getOrElse(Long.MinValue)
    val h = hi.getOrElse(Long.MaxValue); val open = hi.isEmpty
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < keys.length) {
      val k = keys(i)
      if (k == FileCdcDatabase.NoLong || (k >= l && (open || k < h)))
        out += lines(i)
      i += 1
    }
    out.iterator
  }
}

private[source] object BackfillRouting {
  /** Route every line of `it` on `chunkKey`; None once it holds more than
    * `cap` lines (the caller's scope closes the abandoned scan). */
  def build(it: Iterator[String], chunkKey: String,
      cap: Int): Option[BackfillRouting] = {
    val ls = mutable.ArrayBuffer.empty[String]
    val ks = mutable.ArrayBuilder.make[Long]
    while (ls.size <= cap && it.hasNext) {
      val l = it.next()
      ls += l
      ks += FileCdcDatabase.quickNestedLongField(l, chunkKey)
    }
    if (ls.size > cap) None
    else Some(new BackfillRouting(ls.toArray, ks.result()))
  }
}

/**
 * Per-executor shared routing of the W2 log slice. Every snapshot partition
 * of one read backfills from the same log slice (0, high]; on an executor
 * running many such partitions that would be k identical store scans. The
 * cache reads and routes the slice once per (source, table, chunk key,
 * high, content) — a probe per line, no decode — and each partition
 * decodes only its own span's lines from it, in parallel with its
 * siblings.
 *
 * Memory contract: a routing holds the slice's lines, and the cache keeps
 * one routing per table. The build aborts past [[MaxEntries]] lines and
 * marks the slice oversized; every partition then builds from its own full
 * scan of the slice, prefiltered line by line (bounded by its span's change
 * volume), so executor memory stays bounded no matter the change volume.
 * Routings are soft-referenced: memory pressure reclaims them before an
 * OOM.
 */
private[graft] object SnapshotOverlayCache {
  /** Shared-routing line cap (~hundreds of MB worst case for wide rows).
    * Test seam: @volatile var so specs can force the oversized → full-scan
    * fallback path at tiny fixture sizes. */
  @volatile private[graft] var MaxEntries: Int = 1 << 20

  /** Test seam: drop all cached routings (a new cap only applies to
    * builds that have not happened yet). */
  private[graft] def clear(): Unit = cache.clear()

  /** The table source a routing belongs to. Routing decodes nothing, so
    * the projection, parse policy and time zone — which shape the decode —
    * are not part of it. */
  private case class Source(dialect: String, path: String, table: String,
      chunkKey: String)
  /** The one routing kept per source: of the slice (0, high] of the store
    * content `contentToken`; `routing` null = that slice is oversized. A
    * read at a newer log head or content replaces it, so the slices of a
    * live table do not pile up until memory pressure clears them. */
  private final case class Entry(high: Long, contentToken: String,
      routing: java.lang.ref.SoftReference[BackfillRouting])
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Source, Entry]()

  /** The shared routing of `p`'s log slice on `chunkKey`, or None when
    * that slice is known oversized (or its routing was just reclaimed) —
    * the caller then scans the slice itself. `build(cap)` must return None
    * when the slice exceeds `cap` lines. */
  def sharedRouting(p: SnapshotChunkPartition, chunkKey: String,
      build: Int => Option[BackfillRouting]): Option[BackfillRouting] = {
    // content token closes the stale-cache hole: a force=true rewrite at
    // the same path/max-offset changes file sizes/mtimes → new entry
    val token = graft.cdc.dialect.CdcDialects.byName(p.dialect)
      .contentToken(p.path, p.table)
    // compute serializes concurrent callers for the same source: the
    // first partition routes, the rest block briefly (no decode happens
    // here) and reuse
    val e = cache.compute(Source(p.dialect, p.path, p.table, chunkKey),
      (_, cur) =>
        if (cur != null && cur.high == p.high && cur.contentToken == token &&
            (cur.routing == null || cur.routing.get != null)) cur
        else Entry(p.high, token,
          build(MaxEntries).map(new java.lang.ref.SoftReference(_)).orNull))
    Option(e.routing).flatMap(r => Option(r.get))
  }
}

/** DSv2 custom metrics of the snapshot read, summed over tasks and shown
  * on the scan node of the plan (`BatchScanExec.metrics`). The ratio
  * snapshotLinesRead / snapshotRowsEmitted is the chunk read's waste: 1.0
  * when every chunk reads only its own window. snapshotChunksRead counts
  * chunk ranges merged; a task merges a run of them, so it exceeds the
  * task count whenever chunks are grouped. Spark instantiates each
  * metric class by name to aggregate, hence one no-arg class per metric. */
object CdcScanMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

  sealed abstract class Sum(metricName: String, desc: String)
      extends CustomSumMetric {
    override def name(): String = metricName
    override def description(): String = desc
    def value(v: Long): CustomTaskMetric = new CustomTaskMetric {
      override def name(): String = metricName
      override def value(): Long = v
    }
  }
  final class SnapshotLinesReadMetric extends Sum("snapshotLinesRead",
    "snapshot lines read")
  final class SnapshotRowsEmittedMetric extends Sum("snapshotRowsEmitted",
    "snapshot rows emitted")
  final class BackfillLinesRoutedMetric extends Sum("backfillLinesRouted",
    "W2 backfill log lines probed for their chunk key")
  final class BackfillLinesDecodedMetric extends Sum("backfillLinesDecoded",
    "W2 backfill log lines decoded")
  final class SnapshotChunksReadMetric extends Sum("snapshotChunksRead",
    "snapshot chunks read")

  val SnapshotLinesRead = new SnapshotLinesReadMetric
  val SnapshotRowsEmitted = new SnapshotRowsEmittedMetric
  val BackfillLinesRouted = new BackfillLinesRoutedMetric
  val BackfillLinesDecoded = new BackfillLinesDecodedMetric
  val SnapshotChunksRead = new SnapshotChunksReadMetric
  val all: Array[CustomMetric] = Array(SnapshotLinesRead, SnapshotRowsEmitted,
    BackfillLinesRouted, BackfillLinesDecoded, SnapshotChunksRead)
}

/** Test seam (CdcSourceSpec failover tests, local-mode single-JVM only):
  * arm a countdown to make the Nth opened snapshot/log reader throw —
  * simulates losing an executor MID-BATCH with earlier partitions already
  * read, the reference's TM-kill failover matrix
  * (flink-connector-mysql-cdc/src/test/java/.../MySqlSourceITCase.java:149-209).
  * Disarmed (<0) in production; nothing else references it. */
private[graft] object ReaderFailureInjection {
  val snapshotCountdown = new java.util.concurrent.atomic.AtomicInteger(-1)
  val logCountdown = new java.util.concurrent.atomic.AtomicInteger(-1)
  private[source] def maybeFail(isSnapshot: Boolean): Unit = {
    val c = if (isSnapshot) snapshotCountdown else logCountdown
    if (c.get() >= 0 && c.getAndDecrement() == 0)
      throw new RuntimeException(
        "injected reader failure (failover test seam)")
  }
}

class SnapshotChunkReader(p: SnapshotChunkPartition)
    extends PartitionReader[InternalRow] {
  import ChangeRecord.ExternalOp

  ReaderFailureInjection.maybeFail(isSnapshot = true)

  private val dec = new EnvelopeDecoder(p.dialect, p.path, p.table,
    p.schemaDdl, p.chunkKey, p.parsePolicy, p.serverTimeZone, p.maskSpec)

  // The partition's chunk ranges are consecutive, so the whole partition
  // spans one contiguous key interval.
  private val spanLo: Option[Long] = p.ranges.head._1
  private val spanHi: Option[Long] = p.ranges.last._2
  private def inSpan(k: Long): Boolean =
    spanLo.forall(k >= _) && spanHi.forall(k < _)

  // task counters behind currentMetricsValues (CdcScanMetrics)
  private var snapshotLinesRead = 0L
  private var rowsEmitted = 0L
  private var backfillLinesRouted = 0L
  private var backfillLinesDecoded = 0L
  private var chunksRead = 0L

  /** ONE log pass building the final surviving entry per log-touched merge
    * key (pk) of this partition's key span. Sequential newest-wins
    * application over the offset-sorted lines equals replaying events per
    * key. `prefilter` = probe each line's chunk key first and decode only
    * in-span or unroutable lines (needed on a full scan of the slice;
    * routed lines have passed the same probe already). */
  private def buildOverlay(lines: Iterator[String],
      prefilter: Boolean): SnapshotOverlay = {
    val m = mutable.LinkedHashMap[Long, OverlayEntry]()
    var truncOff = 0L
    lines.foreach { line =>
      // cheap key prefilter: the chunk-key value is identical in before/
      // after (key-stable by the chunk-key contract — the reference dedups
      // by the key Struct the same way, RecordUtils.upsertBinlog), so the
      // chunk-key field inside the envelope structs gives range membership;
      // full decode only in-span
      if (!prefilter || {
        backfillLinesRouted += 1
        val quick = FileCdcDatabase.quickNestedLongField(line, dec.chunkKey)
        quick == FileCdcDatabase.NoLong || inSpan(quick)
      }) {
        backfillLinesDecoded += 1
        dec.decodeEnvelopeSafe(line).foreach { env =>
          // schema-change records go to the history, not the data merge
          // (T2); truncate has no images — it only advances the death
          // frontier (EVERY key span sees it)
          if (env.op == ExternalOp.Truncate)
            truncOff = math.max(truncOff, env.offset)
          else if (env.op != ExternalOp.SchemaChange && inSpan(env.chunkKeyVal))
            env.op match {
              case ExternalOp.Delete =>
                m(env.key) = OverlayEntry(env.chunkKeyVal, None)
              case _ =>
                m(env.key) = OverlayEntry(env.chunkKeyVal,
                  Some((env.offset, env.after)))
            }
        }
      }
    }
    SnapshotOverlay(m, truncOff)
  }

  // This span's lines from the executor's shared routing of the log slice
  // when it is within the cap; otherwise this partition's own prefiltered
  // full scan of the slice. Both decode the same lines in the same order.
  private lazy val overlay: SnapshotOverlay = {
    val routing = SnapshotOverlayCache.sharedRouting(p, dec.chunkKey, cap =>
      BackfillRouting.build(dec.logLinesInRange(0L, p.high).map { l =>
        backfillLinesRouted += 1; l
      }, dec.chunkKey, cap))
    routing match {
      case Some(r) => buildOverlay(r.linesFor(spanLo, spanHi), prefilter = false)
      case None => buildOverlay(dec.logLinesInRange(0L, p.high), prefilter = true)
    }
  }

  // W2 per chunk range: chunk rows keyed by pk, then the partition's log
  // overlay applied — CREATE/UPDATE replace, DELETE removes, and a
  // TRUNCATE in (0, high] kills every row whose newest write precedes it
  // (the snapshot is state at offset 0, so a truncate skips its scan
  // entirely — only post-truncate log writes can be live). Snapshot input
  // is range-pushed to the dialect. Ranges evaluate lazily one at a time
  // (flatMap), so a grouped partition holds O(chunk + span changes) rows.
  private def mergeRange(lo: Option[Long], hi: Option[Long]): Iterator[InternalRow] = {
    chunksRead += 1
    val byKey = snapshotRows(lo, hi)
    overlay.applyRange(byKey, lo, hi)
    emitAll(byKey)
  }

  /** The chunk range's snapshot rows by pk, as (offset 0, image). */
  private def snapshotRows(lo: Option[Long], hi: Option[Long])
      : mutable.LinkedHashMap[Long, (Long, InternalRow)] = {
    def inRange(k: Long): Boolean = lo.forall(k >= _) && hi.forall(k < _)
    val byKey = mutable.LinkedHashMap[Long, (Long, InternalRow)]()
    if (overlay.truncateOffset == 0L)
      dec.snapshotLines(lo, hi).foreach { line =>
        snapshotLinesRead += 1
        val row = dec.codec.decode(line)
        val ck = CdcPlanner.toLongKey(row.get(dec.ckIdx, dec.ckType))
        if (inRange(ck))
          byKey(CdcPlanner.toLongKey(row.get(dec.pkIdx, dec.pkType))) = (0L, row)
      }
    byKey
  }

  private def emitAll(
      byKey: mutable.LinkedHashMap[Long, (Long, InternalRow)])
      : Iterator[InternalRow] =
    byKey.valuesIterator.map { case (off, img) =>
      dec.emit(img, EnvelopeDecoder.Insert, off, 0L)
    }

  private val merged: Iterator[InternalRow] =
    p.ranges.iterator.flatMap { case (lo, hi) => mergeRange(lo, hi) }

  // resources opened while this reader's loop runs land in its own scope,
  // so close() sweeps exactly this reader's leftovers (fd hygiene at
  // many-chunk scale) even if Spark interleaves readers on one task thread
  private val scope = new FileCdcDatabase.ResourceScope
  private var cur: InternalRow = _
  override def next(): Boolean = FileCdcDatabase.inScope(scope) {
    if (merged.hasNext) { cur = merged.next(); rowsEmitted += 1; true }
    else false
  }
  override def get(): InternalRow = cur
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CdcScanMetrics.SnapshotLinesRead.value(snapshotLinesRead),
      CdcScanMetrics.SnapshotRowsEmitted.value(rowsEmitted),
      CdcScanMetrics.BackfillLinesRouted.value(backfillLinesRouted),
      CdcScanMetrics.BackfillLinesDecoded.value(backfillLinesDecoded),
      CdcScanMetrics.SnapshotChunksRead.value(chunksRead))
  override def close(): Unit = {
    scope.closeAll()
    // safety net: sweep anything a scope-less consumer left open on this
    // task thread (scoped readers are untouched — their resources are not
    // in the thread scope)
    FileCdcDatabase.closeAllOnThread()
  }
}

class LogRangeReader(p: LogRangePartition)
    extends PartitionReader[InternalRow] {
  import ChangeRecord.ExternalOp
  import EnvelopeDecoder.{Delete, Insert, UpdateAfter, UpdateBefore}

  ReaderFailureInjection.maybeFail(isSnapshot = false)

  private val dec = new EnvelopeDecoder(p.dialect, p.path, p.table,
    p.schemaDdl, parsePolicy = p.parsePolicy,
    serverTimeZone = p.serverTimeZone, maskSpec = p.maskSpec)

  // lazy: a JDBC dialect's logLines borrows a pooled connection and
  // registers the cursor the moment it is CALLED — that must happen inside
  // next()'s inScope so the cursor lands in this reader's scope (a
  // constructor-time open would fall into the thread scope and survive
  // close() on early-stopped scans, leaking the pooled connection)
  // Debezium skipped.operations: op types dropped from the emitted stream
  // (log phase only — the snapshot merge still applies every op, like
  // Debezium's snapshot of live state that already reflects them)
  private val skipped: Set[String] =
    p.skippedOps.split(",").map(_.trim).filter(_.nonEmpty).toSet

  private lazy val rows: Iterator[InternalRow] = {
    // shouldEmit (W3): only events past the key's finished-chunk high
    // watermark; uniform high == p.from for the file dialect. Offsets are
    // prefiltered cheaply before the full envelope decode.
    var firstEventOffset = Long.MinValue
    dec.logLinesInRange(p.from, p.to).flatMap(dec.decodeEnvelopeSafe)
      .filterNot(env => skipped.contains(env.op))
      .flatMap { env =>
        val emitted: Seq[InternalRow] = env.op match {
          // schema changes route to SchemaHistory, not the row stream (the
          // reference emits them only under includeSchemaChanges);
          // truncates carry no images and Flink's retract stream has no
          // whole-table row kind — upstream, Debezium's skipped.operations
          // default drops truncates before the reference's deserializer
          // (whose else-branch would otherwise mis-emit them as updates)
          // ever sees one, so a truncate contributes no log-phase rows
          // (its state effect lives in the snapshot merge's death frontier)
          case ExternalOp.SchemaChange | ExternalOp.Truncate => Seq.empty
          case ExternalOp.Create | ExternalOp.Read =>
            Seq(dec.emit(env.after, Insert, env.offset, env.ts))
          case ExternalOp.Delete =>
            Seq(dec.emit(env.before, Delete, env.offset, env.ts))
          case ExternalOp.Update if p.changelogMode == "upsert" =>
            Seq(dec.emit(env.after, UpdateAfter, env.offset, env.ts))
          case ExternalOp.Update =>
            Seq(dec.emit(env.before, UpdateBefore, env.offset, env.ts),
              dec.emit(env.after, UpdateAfter, env.offset, env.ts))
        }
        // mid-transaction resume (skipRows): rows already delivered from
        // the FIRST event past the seek position are dropped; later
        // events are never affected (BinlogOffset.rowsToSkip scope)
        if (p.skipRows > 0 && emitted.nonEmpty &&
            (firstEventOffset == Long.MinValue ||
              env.offset == firstEventOffset)) {
          firstEventOffset = env.offset
          emitted.drop(p.skipRows)
        } else emitted
      }
  }

  private val scope = new FileCdcDatabase.ResourceScope
  private var cur: InternalRow = _
  override def next(): Boolean = FileCdcDatabase.inScope(scope) {
    if (rows.hasNext) { cur = rows.next(); true } else false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = {
    scope.closeAll()
    FileCdcDatabase.closeAllOnThread()
  }
}
