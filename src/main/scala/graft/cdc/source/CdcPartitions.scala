package graft.cdc.source

import graft.cdc.dialect.CdcDialects
import graft.cdc.{ChangeRecord, FileCdcDatabase, Utf8Line}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
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
 * time, so it holds ≤ chunk-size merged rows (default 8096) — an array of
 * rows plus a primitive pk index ([[ChunkMerge]]), reused range after
 * range, with the 64 KiB read blocks the rows' strings view — plus its
 * span's overlay; the log reader streams line by line. Both hold
 * O(chunk + span changes), not O(table).
 * The W2 backfill holds, per executor, the routed log slice as its read
 * blocks with each line's bounds and probed chunk key
 * (≤ [[SnapshotOverlayCache.MaxEntries]] lines, soft-referenced), and per
 * partition an overlay of its span's log-touched keys, whose images own
 * their strings, indexed by chunk key: applying it to a chunk range costs
 * O(log E + m log m) for the m of its E entries in that range, not O(E)
 * per range.
 *
 * Read cost: each chunk range reads only its own snapshot window (the
 * dialect seeks to it), and each partition decodes only the log lines of
 * its own key span, so a full read decodes every snapshot line once and
 * every log line about once (unroutable lines once per partition). Every
 * line reaches the decoder as UTF-8 bytes sliced from its read block
 * ([[graft.cdc.Utf8Line]]), never as a String, and is decoded straight
 * into its output row: one row allocation per emitted row, completed in
 * place when emitted, with the pk and chunk key handed back as longs.
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
  * 40-column table must not JSON-decode the other 38.
  *
  * Lines decode straight into the output layout: every row and envelope
  * image is one `GenericInternalRow` of the output width, which [[finish]]
  * completes in place (metadata columns, masks) when it is emitted. The
  * pk and chunk key come back as longs. One decoder per reader: it holds
  * the reader's scanner and the keys of the row it decoded last. */
private[source] class EnvelopeDecoder(dialectName: String, path: String,
    table: String, schemaDdl: String, chunkKeyOpt: String = "",
    parsePolicy: String = "fail", serverTimeZone: String = "UTC",
    maskSpec: String = "") {
  import ChangeRecord._

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

  private val metaNames = MetaCols.toSet
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

  private val outNames = outSchema.fieldNames
  /** Output ordinal of each decoded field; -1 = decoded for the merge
    * only (a pruned pk or chunk key). */
  private val outPos: Array[Int] = decodeSchema.fieldNames.map(outNames.indexOf(_))
  private val layout =
    new JsonRowCodec.Layout(outSchema.size, outPos, pkIdx, ckIdx)
  // change envelopes: their images may be kept in an overlay for a whole
  // partition, so their strings are copies, never views of a buffer
  private[source] val scan = codec.scanner(layout)
  // snapshot rows: emitted within their chunk, so strings view the line
  private val rowScan = codec.scanner(layout, shareBytes = true)

  /** A row of the tree decode (decodeSchema layout) in the output layout. */
  private def toOutput(r: InternalRow): InternalRow =
    if (r == null) null
    else {
      val out = new GenericInternalRow(outSchema.size)
      var j = 0
      while (j < outPos.length) {
        if (outPos(j) >= 0) out.update(outPos(j), r.get(j, decodeSchema(j).dataType))
        j += 1
      }
      out
    }

  /** A decoded change envelope; images in the output layout. The keys are
    * those of the after image (the before image when there is none). */
  final class Env private[EnvelopeDecoder] (val offset: Long, val op: String,
      val ts: Long, val before: InternalRow, val after: InternalRow,
      pk: Long, ck: Long,
      /** Tree decodes only: the key image in decodeSchema layout, whose
        * keys are read (and fail) when asked for, as they always were. */
      treeImage: InternalRow, fromTree: Boolean) {
    /** Merge identity (primary key). */
    def key: Long =
      if (fromTree) CdcPlanner.toLongKey(treeImage.get(pkIdx, pkType)) else pk
    /** Range membership (chunk key; key-stable by contract). */
    def chunkKeyVal: Long =
      if (fromTree) CdcPlanner.toLongKey(treeImage.get(ckIdx, ckType)) else ck
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
  def decodeEnvelope(line: Utf8Line): Env =
    if (scan.tryEnvelope(line))
      new Env(scan.offset, scan.op, scan.ts, scan.before, scan.after,
        scan.pk, scan.ck, null, fromTree = false)
    else decodeEnvelopeTree(line)

  def decodeEnvelopeTree(line: Utf8Line): Env = {
    val n = codec.parse(line)
    val offset = requireLong(n, OffsetCol)
    val op = n.get(OpCol).asText()
    val ts = requireLong(n, TsCol)
    val before = codec.convertStruct(n.get(BeforeCol), decodeSchema)
    val after = codec.convertStruct(n.get(AfterCol), decodeSchema)
    new Env(offset, op, ts, toOutput(before), toOutput(after), 0L, 0L,
      if (after != null) after else before, fromTree = true)
  }

  /** [[decodeEnvelope]] under the parse-error policy (the reference's
    * Debezium errors.tolerance): null = line dropped (`skip`); `fail`
    * rethrows with the offending line's prefix for diagnosis. */
  def decodeEnvelopeSafe(line: Utf8Line): Env =
    try decodeEnvelope(line)
    catch {
      case scala.util.control.NonFatal(e) =>
        if (parsePolicy == "skip") null
        else throw new IllegalStateException(
          s"undecodable log line for $table (scan.parse.error-policy=fail): " +
            s"'${line.toString.take(120)}'", e)
    }

  // the tree-decoded row of the last decodeRow (null after a single-pass
  // one): its keys are read, and fail, only when asked for
  private var treeRow: InternalRow = null
  private var rowPk0 = 0L
  private var rowCk0 = 0L

  /** One snapshot line in the output layout; its keys are [[rowPk]] and
    * [[rowCk]] until the next call. Its strings may view the line's bytes:
    * emit the row before dropping the line's buffer. */
  def decodeRow(line: Utf8Line): InternalRow = {
    val r = rowScan.tryRow(line)
    if (r != null) {
      treeRow = null; rowPk0 = rowScan.pk; rowCk0 = rowScan.ck
      r
    } else {
      val t = codec.decodeTree(line)
      if (t == null) throw new NullPointerException(
        s"snapshot line of $table is not a row: '${line.toString.take(120)}'")
      treeRow = t
      toOutput(t)
    }
  }
  def rowPk: Long =
    if (treeRow == null) rowPk0
    else CdcPlanner.toLongKey(treeRow.get(pkIdx, pkType))
  def rowCk: Long =
    if (treeRow == null) rowCk0
    else CdcPlanner.toLongKey(treeRow.get(ckIdx, ckType))

  private def metaPos(c: String): Int = outNames.indexOf(c)
  private val opPos = metaPos(OpCol)
  private val offsetPos = metaPos(OffsetCol)
  private val tsPos = metaPos(TsCol)
  private val dbPos = metaPos(DbCol)
  private val tablePos = metaPos(TableCol)
  private val schemaPos = metaPos(SchemaCol)
  private val tenantPos = metaPos(TenantCol)
  // hoisted: per-row Option.map / fromString allocation is decode-loop
  // hot-path cost
  private val metaDb: UTF8String = UTF8String.fromString(meta.db)
  private val metaTable: UTF8String = UTF8String.fromString(meta.table)
  private val metaSchemaName: UTF8String =
    meta.schemaName.map(UTF8String.fromString).orNull
  private val metaTenant: UTF8String =
    meta.tenant.map(UTF8String.fromString).orNull

  /** Capture-time mask rules by output ordinal — applied at emit so BOTH
    * images of every change event and all snapshot rows leave the reader
    * already redacted (Debezium applies its column.mask/truncate options
    * at the same point: before the record is handed to the pipeline).
    * Pruned-away masked columns cost nothing. */
  private val (maskedPos, maskRules): (Array[Int], Array[ColumnMasks.Rule]) = {
    val rules = ColumnMasks.decode(maskSpec)
    val m = payload.fieldNames.flatMap(n => rules.get(n).map(outNames.indexOf(n) -> _))
    (m.map(_._1), m.map(_._2))
  }

  /** Complete a decoded row in place for emission: the event metadata
    * and the masks. `op` is one of the [[EnvelopeDecoder]] row-kind
    * constants. Each decoded row is emitted once, so it is finished once. */
  def finish(row: InternalRow, op: UTF8String, offset: Long,
      ts: Long): InternalRow = {
    if (opPos >= 0) row.update(opPos, op)
    if (offsetPos >= 0) row.setLong(offsetPos, offset)
    if (tsPos >= 0) row.setLong(tsPos, ts)
    if (dbPos >= 0) row.update(dbPos, metaDb)
    if (tablePos >= 0) row.update(tablePos, metaTable)
    if (schemaPos >= 0) row.update(schemaPos, metaSchemaName)
    if (tenantPos >= 0) row.update(tenantPos, metaTenant)
    var k = 0
    while (k < maskedPos.length) {
      val p = maskedPos(k)
      if (!row.isNullAt(p)) row.update(p, maskRules(k)(row.getUTF8String(p)))
      k += 1
    }
    row
  }

  /** Log lines with offsets in (from, to] — dialect-served (a seek to the
    * range's window of the offset-sorted files in the file dialect). */
  def logRecords(from: Long, to: Long): Iterator[Utf8Line] =
    dialect.logRecords(path, table, from, to)

  /** Snapshot lines possibly overlapping the chunk range [lo, hi) on the
    * chunk key — dialect-served (file pruning via per-file PK stats + a
    * seek to the range's window in the file dialect; SQL range pushdown in
    * a JDBC dialect). */
  def snapshotRecords(lo: Option[Long], hi: Option[Long]): Iterator[Utf8Line] =
    dialect.snapshotRecords(path, meta, chunkKey, lo, hi)
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

/** Open-addressing hash index from long keys to slot numbers (>= 0), with
  * removal: the primitive long → slot index of the chunk merge and the
  * overlay build, one probe per key and no boxed key or entry per row. */
private[source] final class LongIndex {
  // vals: 0 = empty, v + 1 = slot v, -1 = key removed (reads as absent)
  private var keys = new Array[Long](16)
  private var vals = new Array[Int](16)
  private var used = 0

  private def home(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & (keys.length - 1)
  }

  /** Position of `k` in the table, or of the empty cell where it goes. */
  private def find(k: Long): Int = {
    val mask = keys.length - 1
    var p = home(k)
    while (vals(p) != 0 && keys(p) != k) p = (p + 1) & mask
    p
  }

  /** The slot of `k`; -1 when absent or removed. */
  def get(k: Long): Int = {
    val v = vals(find(k))
    if (v > 0) v - 1 else -1
  }

  def put(k: Long, slot: Int): Unit = {
    var p = find(k)
    if (vals(p) == 0) {
      if ((used + 1) * 2 > keys.length) { grow(); p = find(k) }
      used += 1
      keys(p) = k
    }
    vals(p) = slot + 1
  }

  def remove(k: Long): Unit = {
    val p = find(k)
    if (vals(p) != 0) vals(p) = -1
  }

  def clear(): Unit = if (used > 0) { java.util.Arrays.fill(vals, 0); used = 0 }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    keys = new Array[Long](ok.length * 2); vals = new Array[Int](ov.length * 2)
    var i = 0
    while (i < ok.length) {
      if (ov(i) != 0) { val p = find(ok(i)); keys(p) = ok(i); vals(p) = ov(i) }
      i += 1
    }
  }
}

/** One chunk range's merge: rows by pk with their offsets, in the order a
  * `LinkedHashMap` keyed by pk keeps them — snapshot order, a write to a
  * present key replacing its row in place, a new key appended, a delete
  * dropping it — held as an array of rows in that order plus a primitive
  * pk → slot index. Reused range after range by one reader. */
private[source] final class ChunkMerge {
  private var rows = new Array[InternalRow](64)
  private var offs = new Array[Long](64)
  private var n = 0
  private val index = new LongIndex

  /** Slots in use; a deleted row's slot holds null. */
  def size: Int = n
  def row(i: Int): InternalRow = rows(i)
  def offset(i: Int): Long = offs(i)

  def put(k: Long, row: InternalRow, offset: Long): Unit = {
    val s = index.get(k)
    if (s >= 0) { rows(s) = row; offs(s) = offset }
    else {
      if (n == rows.length) {
        rows = java.util.Arrays.copyOf(rows, n * 2)
        offs = java.util.Arrays.copyOf(offs, n * 2)
      }
      rows(n) = row; offs(n) = offset
      index.put(k, n)
      n += 1
    }
  }

  def remove(k: Long): Unit = {
    val s = index.get(k)
    if (s >= 0) { rows(s) = null; index.remove(k) }
  }

  def clear(): Unit = {
    java.util.Arrays.fill(rows.asInstanceOf[Array[AnyRef]], 0, n, null)
    n = 0
    index.clear()
  }
}

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
  def applyEntry(merge: ChunkMerge, i: Int): Unit =
    if (live(i) && offsets(i) > truncateOffset)
      merge.put(keys(i), images(i), offsets(i))
    else merge.remove(keys(i))

  /** Apply every entry of the chunk range [lo, hi), in log order. */
  def applyRange(merge: ChunkMerge, lo: Option[Long], hi: Option[Long]): Unit =
    indicesInRange(lo, hi).foreach(applyEntry(merge, _))
}

private[source] object SnapshotOverlay {
  /** Collects the log pass: the newest write per pk at the position where
    * the pk was first touched (a `LinkedHashMap` update's order), in
    * primitive arrays behind a [[LongIndex]]. */
  final class Collector {
    private var n = 0
    private var keys = new Array[Long](64)
    private var ckVals = new Array[Long](64)
    private var live = new Array[Boolean](64)
    private var offsets = new Array[Long](64)
    private var images = new Array[InternalRow](64)
    private val index = new LongIndex
    private var truncateOffset = 0L

    /** A truncate at `offset`: advances the death frontier. */
    def truncate(offset: Long): Unit =
      truncateOffset = math.max(truncateOffset, offset)

    /** Key `pk`'s newest write: its image at `offset`, or a delete
      * (`image` null). */
    def put(pk: Long, ck: Long, offset: Long, image: InternalRow): Unit = {
      var s = index.get(pk)
      if (s < 0) {
        if (n == keys.length) {
          val c = n * 2
          keys = java.util.Arrays.copyOf(keys, c)
          ckVals = java.util.Arrays.copyOf(ckVals, c)
          live = java.util.Arrays.copyOf(live, c)
          offsets = java.util.Arrays.copyOf(offsets, c)
          images = java.util.Arrays.copyOf(images, c)
        }
        s = n; n += 1
        keys(s) = pk
        index.put(pk, s)
      }
      ckVals(s) = ck
      live(s) = image != null
      offsets(s) = if (image != null) offset else 0L
      images(s) = image
    }

    def result(): SnapshotOverlay = new SnapshotOverlay(
      java.util.Arrays.copyOf(keys, n), java.util.Arrays.copyOf(ckVals, n),
      java.util.Arrays.copyOf(live, n), java.util.Arrays.copyOf(offsets, n),
      java.util.Arrays.copyOf(images, n), truncateOffset)
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
  * decoding — the shared half of the W2 backfill. Holds the slice as the
  * byte blocks it was read in (never written again once read), each
  * line's block and bounds in them, and each line's probed chunk key
  * ([[FileCdcDatabase.scanLongField]], as the span-filtered overlay build
  * prefilters it); a line the probe cannot route
  * ([[FileCdcDatabase.NoLong]]: truncates, DDL, malformed lines) goes to
  * every span. So a span's build over [[linesFor]] sees exactly the lines
  * its full-scan build would decode, in the same order. */
private[source] final class BackfillRouting private (blocks: Array[Array[Byte]],
    block: Array[Int], starts: Array[Int], ends: Array[Int],
    keys: Array[Long]) {
  /** The lines routed into the span [lo, hi) plus every unroutable line,
    * in log order: slices of the held blocks, nothing decoded. */
  def linesFor(lo: Option[Long], hi: Option[Long]): Iterator[Utf8Line] = {
    val l = lo.getOrElse(Long.MinValue)
    val h = hi.getOrElse(Long.MaxValue); val open = hi.isEmpty
    def routed(i: Int): Boolean = {
      val k = keys(i)
      k == FileCdcDatabase.NoLong || (k >= l && (open || k < h))
    }
    new Iterator[Utf8Line] {
      private var i = 0
      private def skip(): Unit = while (i < keys.length && !routed(i)) i += 1
      skip()
      override def hasNext: Boolean = i < keys.length
      override def next(): Utf8Line = {
        if (i >= keys.length) throw new NoSuchElementException
        val line = new Utf8Line(blocks(block(i)), starts(i), ends(i))
        i += 1
        skip()
        line
      }
    }
  }
}

private[source] object BackfillRouting {
  /** Route every line of `it` on `chunkKey`; None once it holds more than
    * `cap` lines (the caller's scope closes the abandoned scan). */
  def build(it: Iterator[Utf8Line], chunkKey: String,
      cap: Int): Option[BackfillRouting] = {
    val key = chunkKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val blocks = mutable.ArrayBuffer.empty[Array[Byte]]
    val block = mutable.ArrayBuilder.make[Int]
    val starts = mutable.ArrayBuilder.make[Int]
    val ends = mutable.ArrayBuilder.make[Int]
    val ks = mutable.ArrayBuilder.make[Long]
    var last: Array[Byte] = null
    var count = 0
    while (count <= cap && it.hasNext) {
      val l = it.next()
      if (l.bytes ne last) { last = l.bytes; blocks += last }
      block += blocks.size - 1
      starts += l.start
      ends += l.end
      ks += FileCdcDatabase.scanLongField(l, key, topLevelOnly = false)
      count += 1
    }
    if (count > cap) None
    else Some(new BackfillRouting(blocks.toArray, block.result(),
      starts.result(), ends.result(), ks.result()))
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
 * The first caller for a source builds its routing under that source's
 * own once-holder ([[Entry]]), outside the map's bin lock: only callers
 * for the same source wait for the build, never a source whose key shares
 * the bin. A build that throws leaves the holder empty, and the next
 * caller builds again.
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
  private[graft] case class Source(dialect: String, path: String,
      table: String, chunkKey: String)

  /** The one routing kept per source: of the slice (0, high] of the store
    * content `contentToken`, built once by the first caller that asks. A
    * read at a newer log head or content replaces it, so the slices of a
    * live table do not pile up until memory pressure clears them. */
  private final class Entry(val high: Long, val contentToken: String) {
    @volatile private var built = false
    /** null = that slice is oversized. */
    private var routing: java.lang.ref.SoftReference[BackfillRouting] = _

    /** Still the routing for a read of (0, high] over `token`. */
    def serves(h: Long, token: String): Boolean =
      high == h && contentToken == token &&
        (!built || routing == null || routing.get != null)

    /** The routing, built by this caller when no one has built it yet
      * (callers of this entry wait on its monitor meanwhile). */
    def get(build: Int => Option[BackfillRouting]): Option[BackfillRouting] = {
      if (!built) synchronized {
        if (!built) {
          routing = build(MaxEntries).map(new java.lang.ref.SoftReference(_)).orNull
          built = true
        }
      }
      Option(routing).flatMap(r => Option(r.get))
    }
  }
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
    // the bin lock covers only this comparison; the build runs in get
    val e = cache.compute(Source(p.dialect, p.path, p.table, chunkKey),
      (_, cur) =>
        if (cur != null && cur.serves(p.high, token)) cur
        else new Entry(p.high, token))
    e.get(build)
  }
}

/** DSv2 custom metrics of the snapshot and log reads, summed over tasks
  * and shown on the scan node of the plan (`BatchScanExec.metrics`). The
  * ratio snapshotLinesRead / snapshotRowsEmitted is the chunk read's
  * waste: 1.0 when every chunk reads only its own window.
  * snapshotChunksRead counts chunk ranges merged; a task merges a run of
  * them, so it exceeds the task count whenever chunks are grouped. The log
  * read counts the lines of its windows, the lines the parse-error policy
  * `skip` dropped, and the rows it emitted. Spark instantiates each metric
  * class by name to aggregate, hence one no-arg class per metric. */
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
  final class LogLinesReadMetric extends Sum("logLinesRead",
    "log lines read")
  final class LogRowsEmittedMetric extends Sum("logRowsEmitted",
    "log rows emitted")
  final class LogLinesSkippedMetric extends Sum("logLinesSkipped",
    "log lines skipped by parse.error-policy=skip")

  val SnapshotLinesRead = new SnapshotLinesReadMetric
  val SnapshotRowsEmitted = new SnapshotRowsEmittedMetric
  val BackfillLinesRouted = new BackfillLinesRoutedMetric
  val BackfillLinesDecoded = new BackfillLinesDecodedMetric
  val SnapshotChunksRead = new SnapshotChunksReadMetric
  val LogLinesRead = new LogLinesReadMetric
  val LogRowsEmitted = new LogRowsEmittedMetric
  val LogLinesSkipped = new LogLinesSkippedMetric
  val all: Array[CustomMetric] = Array(SnapshotLinesRead, SnapshotRowsEmitted,
    BackfillLinesRouted, BackfillLinesDecoded, SnapshotChunksRead,
    LogLinesRead, LogRowsEmitted, LogLinesSkipped)
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

  private val ranges = p.ranges.toArray
  // The partition's chunk ranges are consecutive, so the whole partition
  // spans one contiguous key interval.
  private val spanLo: Option[Long] = ranges.head._1
  private val spanHi: Option[Long] = ranges.last._2
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
  private def buildOverlay(lines: Iterator[Utf8Line],
      prefilter: Boolean): SnapshotOverlay = {
    val b = new SnapshotOverlay.Collector
    val ckBytes = dec.chunkKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    lines.foreach { line =>
      // cheap key prefilter: the chunk-key value is identical in before/
      // after (key-stable by the chunk-key contract — the reference dedups
      // by the key Struct the same way, RecordUtils.upsertBinlog), so the
      // chunk-key field inside the envelope structs gives range membership;
      // full decode only in-span
      if (!prefilter || {
        backfillLinesRouted += 1
        val quick = FileCdcDatabase.scanLongField(line, ckBytes,
          topLevelOnly = false)
        quick == FileCdcDatabase.NoLong || inSpan(quick)
      }) {
        backfillLinesDecoded += 1
        val env = dec.decodeEnvelopeSafe(line)
        // schema-change records go to the history, not the data merge
        // (T2); truncate has no images — it only advances the death
        // frontier (EVERY key span sees it)
        if (env != null) {
          if (env.op == ExternalOp.Truncate) b.truncate(env.offset)
          else if (env.op != ExternalOp.SchemaChange) {
            val ck = env.chunkKeyVal
            if (inSpan(ck))
              b.put(env.key, ck, env.offset,
                if (env.op == ExternalOp.Delete) null else env.after)
          }
        }
      }
    }
    b.result()
  }

  // This span's lines from the executor's shared routing of the log slice
  // when it is within the cap; otherwise this partition's own prefiltered
  // full scan of the slice. Both decode the same lines in the same order.
  private lazy val overlay: SnapshotOverlay = {
    val routing = SnapshotOverlayCache.sharedRouting(p, dec.chunkKey, cap =>
      BackfillRouting.build(dec.logRecords(0L, p.high).map { l =>
        backfillLinesRouted += 1; l
      }, dec.chunkKey, cap))
    routing match {
      case Some(r) => buildOverlay(r.linesFor(spanLo, spanHi), prefilter = false)
      case None => buildOverlay(dec.logRecords(0L, p.high), prefilter = true)
    }
  }

  private val merge = new ChunkMerge
  private var nextRange = 0
  private var slot = 0

  // W2 per chunk range: chunk rows keyed by pk, then the partition's log
  // overlay applied — CREATE/UPDATE replace, DELETE removes, and a
  // TRUNCATE in (0, high] kills every row whose newest write precedes it
  // (the snapshot is state at offset 0, so a truncate skips its scan
  // entirely — only post-truncate log writes can be live). Snapshot input
  // is range-pushed to the dialect. Ranges merge one at a time, so a
  // grouped partition holds O(chunk + span changes) rows.
  private def mergeRange(lo: Option[Long], hi: Option[Long]): Unit = {
    chunksRead += 1
    merge.clear()
    if (overlay.truncateOffset == 0L) snapshotRows(lo, hi)
    overlay.applyRange(merge, lo, hi)
  }

  /** The chunk range's snapshot rows by pk, at offset 0. */
  private def snapshotRows(lo: Option[Long], hi: Option[Long]): Unit = {
    val it = dec.snapshotRecords(lo, hi)
    while (it.hasNext) {
      snapshotLinesRead += 1
      val row = dec.decodeRow(it.next())
      val ck = dec.rowCk
      if (lo.forall(ck >= _) && hi.forall(ck < _))
        merge.put(dec.rowPk, row, 0L)
    }
  }

  // resources opened while this reader merges a range land in its own
  // scope, so close() sweeps exactly this reader's leftovers (fd hygiene
  // at many-chunk scale) even if Spark interleaves readers on one task
  // thread. A range's files open and close inside its merge.
  private val scope = new FileCdcDatabase.ResourceScope
  private var cur: InternalRow = _
  override def next(): Boolean = {
    while (true) {
      while (slot < merge.size) {
        val r = merge.row(slot)
        val off = merge.offset(slot)
        slot += 1
        if (r != null) {
          cur = dec.finish(r, EnvelopeDecoder.Insert, off, 0L)
          rowsEmitted += 1
          return true
        }
      }
      if (nextRange >= ranges.length) return false
      val (lo, hi) = ranges(nextRange)
      nextRange += 1
      FileCdcDatabase.inScope(scope)(mergeRange(lo, hi))
      slot = 0
    }
    false
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

  // Debezium skipped.operations: op types dropped from the emitted stream
  // (log phase only — the snapshot merge still applies every op, like
  // Debezium's snapshot of live state that already reflects them)
  private val skipped: Set[String] =
    p.skippedOps.split(",").map(_.trim).filter(_.nonEmpty).toSet

  // task counters behind currentMetricsValues (CdcScanMetrics)
  private var linesRead = 0L
  private var rowsEmitted = 0L
  private var linesSkipped = 0L

  // lazy: a JDBC dialect's logRecords borrows a pooled connection and
  // registers the cursor the moment it is CALLED — that must happen inside
  // next()'s inScope so the cursor lands in this reader's scope (a
  // constructor-time open would fall into the thread scope and survive
  // close() on early-stopped scans, leaking the pooled connection)
  private lazy val lines: Iterator[Utf8Line] = dec.logRecords(p.from, p.to)

  // the rows of the current event still to emit: pending(next until n)
  private val pending = new Array[InternalRow](2)
  private var pendingNext = 0
  private var pendingN = 0
  private var firstEventOffset = Long.MinValue

  /** Decode lines until one yields rows to emit; false at the end. */
  private def fill(): Boolean = {
    while (lines.hasNext) {
      linesRead += 1
      val env = dec.decodeEnvelopeSafe(lines.next())
      if (env == null) linesSkipped += 1
      else if (!skipped.contains(env.op)) {
        // shouldEmit (W3): only events past the key's finished-chunk high
        // watermark; uniform high == p.from for the file dialect
        pendingN = 0
        def add(img: InternalRow, kind: UTF8String): Unit = {
          pending(pendingN) = dec.finish(img, kind, env.offset, env.ts)
          pendingN += 1
        }
        env.op match {
          // schema changes route to SchemaHistory, not the row stream (the
          // reference emits them only under includeSchemaChanges);
          // truncates carry no images and Flink's retract stream has no
          // whole-table row kind — upstream, Debezium's skipped.operations
          // default drops truncates before the reference's deserializer
          // (whose else-branch would otherwise mis-emit them as updates)
          // ever sees one, so a truncate contributes no log-phase rows
          // (its state effect lives in the snapshot merge's death frontier)
          case ExternalOp.SchemaChange | ExternalOp.Truncate => ()
          case ExternalOp.Create | ExternalOp.Read => add(env.after, Insert)
          case ExternalOp.Delete => add(env.before, Delete)
          case ExternalOp.Update if p.changelogMode == "upsert" =>
            add(env.after, UpdateAfter)
          case ExternalOp.Update =>
            add(env.before, UpdateBefore); add(env.after, UpdateAfter)
        }
        // mid-transaction resume (skipRows): rows already delivered from
        // the FIRST event past the seek position are dropped; later
        // events are never affected (BinlogOffset.rowsToSkip scope)
        pendingNext = 0
        if (p.skipRows > 0 && pendingN > 0 &&
            (firstEventOffset == Long.MinValue ||
              env.offset == firstEventOffset)) {
          firstEventOffset = env.offset
          pendingNext = math.min(p.skipRows, pendingN)
        }
        if (pendingNext < pendingN) return true
      }
    }
    false
  }

  private val scope = new FileCdcDatabase.ResourceScope
  private var cur: InternalRow = _
  override def next(): Boolean =
    if (pendingNext < pendingN || FileCdcDatabase.inScope(scope)(fill())) {
      cur = pending(pendingNext)
      pending(pendingNext) = null
      pendingNext += 1
      rowsEmitted += 1
      true
    } else false
  override def get(): InternalRow = cur
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CdcScanMetrics.LogLinesRead.value(linesRead),
      CdcScanMetrics.LogRowsEmitted.value(rowsEmitted),
      CdcScanMetrics.LogLinesSkipped.value(linesSkipped))
  override def close(): Unit = {
    scope.closeAll()
    FileCdcDatabase.closeAllOnThread()
  }
}
