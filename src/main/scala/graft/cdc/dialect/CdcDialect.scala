package graft.cdc.dialect

import graft.cdc.{ChangeRecord, FileCdcDatabase, Utf8Line}
import graft.cdc.FileCdcDatabase.TableMeta

/**
 * Database-dialect boundary of the CDC source — the Spark re-expression of
 * the reference's `DataSourceDialect` SPI (flink-cdc-base/.../dialect/
 * DataSourceDialect.java:39-70: discoverDataCollections /
 * discoverDataCollectionSchemas / displayCurrentOffset / chunk splitter /
 * fetch tasks). One generic DSv2 source (graft.cdc.source) parameterized by
 * a dialect = the reference's one `IncrementalSource` parameterized the same
 * way (SURVEY §2.1 S11).
 *
 * Executor-side methods return raw record lines as UTF-8 bytes
 * ([[Utf8Line]]); the generic source owns decoding (JsonRowCodec) and the
 * watermark merge. The `…Lines` methods are text views of the same reads,
 * for callers that need a String per line. Implementations must be
 * driver-constructible AND executor-resolvable by name (partitions carry
 * `(dialect, path, table)` strings, not object graphs).
 */
trait CdcDialect extends Serializable {

  def name: String

  /** Captured-table discovery (≈ discoverDataCollections). */
  def discoverTables(path: String): Seq[String]

  /** Schema + stats + log head of one table (≈ discoverDataCollectionSchemas
    * + displayCurrentOffset). */
  def tableMeta(path: String, table: String): TableMeta

  /** Snapshot rows possibly overlapping chunk range [lo, hi) on
    * `keyColumn` — a dialect pushes the range to the store (SQL WHERE /
    * file pruning). `keyColumn` is the table's chunk key: the primary key
    * unless overridden (`scan.incremental.snapshot.chunk-key.column`).
    *
    * Window semantics: the result may hold rows outside the range (the
    * caller filters by decoded key), but holds every row inside it. Cost:
    * a store with an index on `keyColumn` reads O(rows in range) — the SQL
    * range scan, or the file dialect's seek into its pk-sorted files; a
    * range on an unindexed key reads the whole table. The file dialect
    * gives each line of a sorted file to exactly one window of a tiling
    * range set, so a full chunked read reads every line once. */
  def snapshotRecords(path: String, meta: TableMeta, keyColumn: String,
      lo: Option[Long], hi: Option[Long]): Iterator[Utf8Line]

  /** [[snapshotRecords]] as text. */
  def snapshotLines(path: String, meta: TableMeta, keyColumn: String,
      lo: Option[Long], hi: Option[Long]): Iterator[String] =
    snapshotRecords(path, meta, keyColumn, lo, hi).map(_.toString)

  /** [[snapshotLines]] reading the table's meta first. */
  def snapshotLines(path: String, table: String, keyColumn: String,
      lo: Option[Long], hi: Option[Long]): Iterator[String] =
    snapshotLines(path, tableMeta(path, table), keyColumn, lo, hi)

  /** (min, max) of an integral column — drives chunk planning when the
    * chunk key is overridden away from the PK (stats SQL of the reference,
    * StatementUtils.java:38-77). */
  def columnStats(path: String, table: String, column: String): (Long, Long)

  /** Log records with offsets in (from, to], offset-ordered. Cost:
    * O(records in range) plus a seek — the database's offset index, or the
    * file dialect's bisection of its offset-sorted files.
    *
    * A record without a readable offset cannot be range-filtered; it is
    * returned (for the reader's parse-error policy to decide) by the
    * ranges whose window holds it. In the file dialect the window opens
    * just after the last record with offset <= `from` and closes at the
    * first record with offset > `to`: a range never returns such a record
    * from before its start, and the first range to reach it — the batch
    * that failed on it before windows existed — still returns it. */
  def logRecords(path: String, table: String, from: Long,
      to: Long): Iterator[Utf8Line]

  /** [[logRecords]] as text. */
  def logLines(path: String, table: String, from: Long,
      to: Long): Iterator[String] =
    logRecords(path, table, from, to).map(_.toString)

  /** Log records with offsets > 0 whose text contains `marker`, in log
    * order — schema history's scan for its rare DDL records. The generic
    * implementation filters the whole log; the file dialect searches raw
    * bytes and decodes only the matching lines. */
  def logLinesContaining(path: String, table: String,
      marker: String): Iterator[String] =
    logLines(path, table, 0L, Long.MaxValue).filter(_.contains(marker))

  /** Cheap content fingerprint of one table's backing store — folded into
    * executor-side cache keys (SnapshotOverlayCache) so a forced rewrite
    * of the store that lands on the SAME max offset never serves a stale
    * cached overlay. File-backed dialects answer from directory metadata
    * (name/size/mtime — no data read); dialects without cheap metadata
    * return "" and their caches key on offsets alone. */
  def contentToken(path: String, table: String): String = ""

  /** Up to `limit` distinct event offsets in (from, to] across `tables`,
    * ascending — drives rate limiting; a JDBC dialect asks the database
    * instead of scanning. Implementations must stop enumerating once
    * `limit` offsets past `from` are found (an AvailableNow drain calls
    * this once per micro-batch — unbounded enumeration makes the drain
    * quadratic in log size). */
  def offsetsBetween(path: String, tables: Seq[String],
      from: Long, to: Long, limit: Int = Int.MaxValue): Seq[Long]

  /** Startup position for timestamp mode: first offset with source ts ≥
    * `tsMs`, minus 1; log head if none. */
  def offsetForTimestamp(path: String, tables: Seq[String], tsMs: Long): Long

  /** Precondition check at scan start — the reference validates server
    * config before reading (MySqlValidator.java:78-141 binlog_format=ROW,
    * SqlServerValidator CDC-enabled). Throw with an actionable message on
    * failure. */
  def validate(path: String, tables: Seq[String]): Unit = ()

  /** Uneven-split capability: dialects that can answer "max of the next
    * `chunkSize` keys ≥ lower" as a store-side query (StatementUtils.java:
    * 99-130) return true and implement [[nextChunkMax]]; the planner then
    * walks chunks with O(chunks) point queries instead of a full key scan.
    * Per-path: a dialect may host several databases whose configured SQL
    * flavors differ in walk capability. */
  def supportsChunkMaxQuery(path: String): Boolean = false

  /** Max of the `chunkSize` smallest `keyColumn` values ≥ `lowerInclusive`;
    * None when no keys remain. Only called when [[supportsChunkMaxQuery]]. */
  def nextChunkMax(path: String, table: String, keyColumn: String,
      lowerInclusive: Long, chunkSize: Int): Option[Long] =
    throw new UnsupportedOperationException(s"$name: no chunk-max query")

  /** Source timestamp (`__ts_ms`) of the newest event at or below `offset`
    * across `tables`; None when the log holds no such event. Drives the
    * `currentFetchEventTimeLag` metric (reference SourceReaderMetrics
    * .java — fetchTime − messageTimestamp). The generic implementation
    * replays the log up to the offset; dialects with an offset index
    * override with a seek. */
  def eventTimeOfOffset(path: String, tables: Seq[String],
      offset: Long): Option[Long] = {
    var best = Long.MinValue
    val tsKey = ChangeRecord.TsCol.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    tables.foreach { t =>
      logRecords(path, t, Long.MinValue, offset).foreach { l =>
        val ts = FileCdcDatabase.scanLongField(l, tsKey, topLevelOnly = true)
        if (ts != FileCdcDatabase.NoLong && ts > best) best = ts
      }
    }
    if (best == Long.MinValue) None else Some(best)
  }

  /** Mean stored row size (bytes) of one table's snapshot, when the store
    * can answer from metadata (file sizes, table statistics) without
    * scanning data. Drives byte-based chunk sizing
    * (`scan.incremental.snapshot.chunk.size.mb`,
    * MongoDBSourceOptions.java:130-137 — Mongo sizes chunks in MB via
    * collStats avgObjSize the same way). None = the dialect cannot
    * estimate, and a byte-sized scan over it fails at analysis. */
  def avgRowSizeBytes(path: String, table: String): Option[Long] = None

  /** Physical range boundaries the STORE already maintains for this table
    * — TiKV region start keys, a sharded cluster's chunk bounds
    * (TableKeyRangeUtils / ShardedSplitStrategy). When present, the
    * planner splits snapshots along them (one reader per store range, the
    * reference's TiDB/Mongo-sharded behavior) instead of computing its own
    * cuts. None = store has no native ranges. */
  def storeRangeBoundaries(path: String, table: String): Option[Seq[Long]] =
    None
}

/** Dialect registry: resolution by name on driver and executors. */
object CdcDialects {
  val all: Map[String, CdcDialect] = Map(
    FileCdcDialect.name -> FileCdcDialect,
    JdbcCdcDialect.name -> JdbcCdcDialect)
  def byName(n: String): CdcDialect = all.getOrElse(n,
    throw new IllegalArgumentException(
      s"unknown cdc dialect '$n' (have: ${all.keys.mkString(",")})"))
}

/**
 * The file-backed dialect (zero-egress test instance, SURVEY §5): snapshot =
 * PK-range-partitioned sorted JSONL with per-file key stats, log = offset-
 * sorted JSONL envelope files. All I/O fast paths (file pruning, prefix
 * parses, early stops) live here — the generic source never assumes them.
 */
object FileCdcDialect extends CdcDialect {
  import graft.cdc.ChangeRecord

  val name = "file"

  override def discoverTables(path: String): Seq[String] =
    FileCdcDatabase.discoverTables(path)

  /** Directory-metadata fingerprint of the table's snapshot + log files:
    * any rewrite (even one landing on the same max offset) changes a size
    * or mtime, invalidating executor-side overlay cache entries. */
  override def contentToken(path: String, table: String): String = {
    import java.nio.file.{Files, Paths}
    Seq("snapshot", "log").flatMap { section =>
      FileCdcDatabase.dataFiles(path, table, section).map { f =>
        val p = Paths.get(f)
        s"${p.getFileName}:${Files.size(p)}:" +
          s"${Files.getLastModifiedTime(p).toMillis}"
      }
    }.mkString("|")
  }

  /** File-dialect preconditions: meta readable, PK integral (the chunk key
    * contract — MySqlChunkSplitter.java:385-395 limits splits the same way). */
  override def validate(path: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val m = tableMeta(path, t)
      val pkType = m.schema(m.schema.fieldIndex(m.pk)).dataType
      require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(pkType) ||
        pkType.isInstanceOf[org.apache.spark.sql.types.DecimalType],
        s"table $t: chunk key '${m.pk}' must be integral, got $pkType")
    }

  override def tableMeta(path: String, table: String): TableMeta =
    FileCdcDatabase.readMeta(path, table)

  /** Snapshot bytes / row count, from file metadata only (the JSONL
    * wire size stands in for the store's stored-row size, as Mongo's
    * collStats.avgObjSize does for BSON). */
  override def avgRowSizeBytes(path: String, table: String): Option[Long] = {
    val rows = tableMeta(path, table).rowCount
    if (rows <= 0) None
    else {
      val bytes = FileCdcDatabase.dataFiles(path, table, "snapshot")
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
      if (bytes <= 0) None else Some(math.max(1L, bytes / rows))
    }
  }

  /** Store-native ranges from the table metadata (the TiKV-region / shard-
    * chunk analogue a physical store would report). */
  override def storeRangeBoundaries(path: String,
      table: String): Option[Seq[Long]] = {
    val r = tableMeta(path, table).regions
    if (r.isEmpty) None else Some(r)
  }

  override def snapshotRecords(path: String, meta: TableMeta,
      keyColumn: String, lo: Option[Long], hi: Option[Long])
      : Iterator[Utf8Line] = {
    // file layout is PK-range-partitioned/sorted: pruning and the seek
    // only apply when the chunk key IS the pk; an overridden chunk key
    // degrades to full-file scans (a store with an index on the override
    // column — the JDBC dialect — keeps the pushdown)
    val prunable = keyColumn == meta.pk
    val all = FileCdcDatabase.dataFiles(path, meta.table, "snapshot")
    val pruned =
      if (!prunable || meta.snapshotFiles.isEmpty) all
      else {
        val byName = meta.snapshotFiles.map(f => f.file -> f).toMap
        all.filter { p =>
          byName.get(java.nio.file.Paths.get(p).getFileName.toString) match {
            case Some(fr) =>
              lo.forall(fr.maxPk >= _) && hi.forall(fr.minPk < _)
            case None => true
          }
        }
      }
    val sortedByPk = prunable && meta.snapshotFiles.nonEmpty
    val key = pkOf(meta.pk, utf8(meta.pk)) _
    pruned.iterator.flatMap { f =>
      if (sortedByPk) FileCdcDatabase.sortedLines(f, lo, hi, key)
      else FileCdcDatabase.byteLines(f)
    }
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val offsetKey = utf8(ChangeRecord.OffsetCol)
  private val tsKey = utf8(ChangeRecord.TsCol)

  /** `__ts_ms` of a log line, None when it has no plain integer one. */
  private def tsOf(l: Utf8Line): Option[Long] = {
    val v = FileCdcDatabase.scanLongField(l, tsKey, topLevelOnly = true)
    if (v == FileCdcDatabase.NoLong) None else Some(v)
  }

  /** Sort key of a snapshot line: its top-level pk as the quick scan reads
    * it, else as Jackson's `asLong` reads a number or numeric text;
    * [[FileCdcDatabase.NoLong]] when the line has none (it is then read
    * by the window of the keyed line before it). */
  private def pkOf(pk: String, pkBytes: Array[Byte])(l: Utf8Line): Long = {
    val v = FileCdcDatabase.scanLongField(l, pkBytes, topLevelOnly = true)
    if (v != FileCdcDatabase.NoLong) v
    else
      try {
        val n = FileCdcDatabase.mapper.readTree(l.toString).get(pk)
        if (n != null && (n.isNumber || n.isTextual))
          n.asLong(FileCdcDatabase.NoLong)
        else FileCdcDatabase.NoLong
      } catch { case scala.util.control.NonFatal(_) => FileCdcDatabase.NoLong }
  }

  override def columnStats(path: String, table: String,
      column: String): (Long, Long) = {
    val meta = tableMeta(path, table)
    if (column == meta.pk) (meta.minPk, meta.maxPk)
    else {
      // one prefix-parsing driver pass; chunk planning is one-time work
      var mn = Long.MaxValue; var mx = Long.MinValue
      FileCdcDatabase.dataFiles(path, table, "snapshot").foreach { f =>
        val it = FileCdcDatabase.byteLines(f)
        try it.foreach { l =>
          val v = FileCdcDatabase.quickLongField(l, column)
          if (v < mn) mn = v
          if (v > mx) mx = v
        } finally it.close()
      }
      require(mn <= mx, s"no rows to derive stats for $table.$column")
      (mn, mx)
    }
  }

  /** Offset of a log line, or None when the line carries no integral
    * offset — such a line cannot be range-filtered, so it flows to the
    * reader's parse-error policy from the ranges whose window holds it. */
  private def offsetOfOpt(l: Utf8Line): Option[Long] = {
    val v = offsetOf(l)
    if (v == FileCdcDatabase.NoLong) None else Some(v)
  }

  /** [[offsetOfOpt]] without the Option, [[FileCdcDatabase.NoLong]] =
    * unknown: the sort key of a log line. */
  private def offsetOf(l: Utf8Line): Long = {
    val v = FileCdcDatabase.scanLongField(l, offsetKey, topLevelOnly = true)
    if (v != FileCdcDatabase.NoLong) v
    else offsetByTree(l).getOrElse(FileCdcDatabase.NoLong)
  }

  // integral nodes only: asLong() on a string/null/object coerces to 0,
  // which the range filter would silently drop even under
  // parse-error-policy=fail — return None so the reader's policy decides
  private def offsetByTree(l: Utf8Line): Option[Long] =
    try Option(FileCdcDatabase.mapper.readTree(l.toString)
        .get(ChangeRecord.OffsetCol))
      .filter(_.canConvertToLong).map(_.asLong())
    catch { case scala.util.control.NonFatal(_) => None }

  /** Each offset-sorted log file's window (from, to]: a seek, then the
    * records in range (see [[CdcDialect.logLines]] for where a record
    * without an offset goes). */
  override def logRecords(path: String, table: String,
      from: Long, to: Long): Iterator[Utf8Line] =
    if (from == Long.MaxValue) Iterator.empty
    else {
      val hi = if (to == Long.MaxValue) None else Some(to + 1)
      FileCdcDatabase.dataFiles(path, table, "log").iterator.flatMap(f =>
        FileCdcDatabase.sortedLines(f, Some(from + 1), hi, offsetOf,
          openAfterLastBelow = true))
    }

  /** Byte search for `marker`; only matching lines are decoded, and the
    * offset filter of `logLines(0, MaxValue)` applies to them. */
  override def logLinesContaining(path: String, table: String,
      marker: String): Iterator[String] =
    FileCdcDatabase.dataFiles(path, table, "log").iterator
      .flatMap(FileCdcDatabase.linesContaining(_, marker))
      .filter { l =>
        val off = offsetOf(Utf8Line(l))
        off == FileCdcDatabase.NoLong || off > 0L
      }

  /** Distinct offsets of offset-sorted log files, memoized per file with a
    * (size, mtime) validity stamp — every later rate-limit probe is a
    * binary search instead of a rescan (a live JDBC dialect asks the
    * database the same question; the memo is this dialect's stand-in for
    * that index). One entry per file: a file that grew or was rewritten
    * (size OR mtime change) replaces its entry instead of accumulating
    * one stale array per observed size. */
  private case class OffsetsEntry(size: Long, mtime: Long,
      offs: Array[Long], ts: Array[Long])
  private val offsetMemo =
    new java.util.concurrent.ConcurrentHashMap[String, OffsetsEntry]()

  private def fileOffsetsEntry(f: String): OffsetsEntry = {
    val p = java.nio.file.Paths.get(f)
    val (size, mtime) =
      try (java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
      catch { case _: java.io.IOException => (-1L, -1L) }
    val cur = offsetMemo.get(f)
    if (cur != null && cur.size == size && cur.mtime == mtime) cur
    else {
      val it = FileCdcDatabase.byteLines(f)
      // malformed lines carry no offset: they are invisible to the
      // rate-limit enumeration (the reader-side policy handles them).
      // ts rides along per offset (Long.MinValue = line carries none) for
      // the event-time-lag metric's offset→ts seek.
      val ob = Array.newBuilder[Long]; val tb = Array.newBuilder[Long]
      try it.foreach { l =>
        offsetOfOpt(l).foreach { off =>
          ob += off
          tb += tsOf(l).getOrElse(Long.MinValue)
        }
      } finally it.close()
      val e = OffsetsEntry(size, mtime, ob.result(), tb.result())
      offsetMemo.put(f, e)
      e
    }
  }

  private def fileOffsets(f: String): Array[Long] = fileOffsetsEntry(f).offs

  /** Offset→event-time seek over the memoized per-file offset index: the
    * newest `__ts_ms` at or below `offset` — O(log n) per file after the
    * first touch, vs the trait default's full log replay. */
  override def eventTimeOfOffset(path: String, tables: Seq[String],
      offset: Long): Option[Long] = {
    var best = Long.MinValue
    tables.foreach { t =>
      FileCdcDatabase.dataFiles(path, t, "log").foreach { f =>
        val e = fileOffsetsEntry(f)
        // last index with offs(i) <= offset (array ascending)
        var lo = 0; var hi = e.offs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (e.offs(mid) <= offset) lo = mid + 1 else hi = mid
        }
        var i = lo - 1
        // walk past ts-less lines (rare: malformed) to the newest real ts
        while (i >= 0 && e.ts(i) == Long.MinValue) i -= 1
        if (i >= 0 && e.ts(i) > best) best = e.ts(i)
      }
    }
    if (best == Long.MinValue) None else Some(best)
  }

  override def offsetsBetween(path: String, tables: Seq[String],
      from: Long, to: Long, limit: Int = Int.MaxValue): Seq[Long] = {
    val perFile = tables.iterator
      .flatMap(t => FileCdcDatabase.dataFiles(path, t, "log"))
      .map { f =>
        val offs = fileOffsets(f)
        // first index with offset > from (array is sorted ascending)
        var lo = 0; var hi = offs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (offs(mid) <= from) lo = mid + 1 else hi = mid
        }
        offs.iterator.slice(lo, offs.length)
          .takeWhile(_ <= to).take(limit).toSeq
      }
      .toSeq
    // merge across files/tables (offsets may interleave): ≤ tables×limit
    // values in memory
    val merged = perFile.flatten.distinct.sorted
    if (limit == Int.MaxValue) merged else merged.take(limit)
  }

  /** Timestamp seek: log files are offset-sorted and source timestamps are
    * commit times, monotone with log position (the same assumption behind
    * the reference's binlog timestamp startup) — so per file the scan
    * prefix-parses `__ts_ms` and stops at the FIRST event at/after the
    * target, never full-parsing lines or reading the tail. */
  override def offsetForTimestamp(path: String, tables: Seq[String],
      tsMs: Long): Long = {
    var first = Long.MaxValue
    tables.foreach { t =>
      FileCdcDatabase.dataFiles(path, t, "log").foreach { f =>
        val it = FileCdcDatabase.byteLines(f)
        try {
          var found = false
          while (!found && it.hasNext) {
            val l = it.next()
            val ts = tsOf(l)
            if (ts.exists(_ >= tsMs)) {
              offsetOfOpt(l).foreach { off =>
                first = math.min(first, off)
                found = true
              }
            }
          }
        } finally it.close()
      }
    }
    if (first == Long.MaxValue)
      tables.map(t => tableMeta(path, t).maxOffset).max
    else first - 1
  }
}
