package graft.cdc

import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/**
 * The file-backed "database" behind the test dialect (SURVEY §5 adaptation):
 * a directory per table holding
 *
 *   <dir>/<table>/snapshot/…jsonl   full rows, state at offset 0
 *   <dir>/<table>/log/…jsonl        envelope records (ChangeRecord schema),
 *                                   offsets > 0, sorted within a file
 *   <dir>/<table>/meta.json         pk, schema DDL, row stats, max offset
 *
 * stands in for a live database + transaction log, the way the reference's
 * tests use Testcontainers databases (SURVEY §5). JSONL is written by Spark
 * itself (`df.write.json`), decoded executor-side by [[source.JsonRowCodec]].
 */
object FileCdcDatabase {

  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Shared parser for metadata reads and quick-probe fallbacks
    * (ObjectMapper is thread-safe for reads; one per call was measurable
    * waste on the per-line probe paths). */
  private[cdc] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Per-snapshot-file PK stats (file is a basename under <table>/snapshot):
    * rows are range-partitioned and sorted by PK at write time, so chunk
    * readers prune non-overlapping files and stop early — the file-dialect
    * analogue of parquet row-group min/max pruning / the WHERE-clause range
    * scan a JDBC dialect pushes to the database (StatementUtils.java:132-188). */
  case class FileRange(file: String, minPk: Long, maxPk: Long)

  case class TableMeta(
      table: String,
      db: String,
      pk: String,
      schemaDdl: String,
      rowCount: Long,
      minPk: Long,
      maxPk: Long,
      maxOffset: Long,
      snapshotFiles: Seq[FileRange] = Seq.empty,
      /** Store-native range boundaries (TiKV-region / shard-chunk
        * analogue) over the pk; empty = none. */
      regions: Seq[Long] = Seq.empty,
      /** Owning schema, when the store has the concept (Oracle
        * OracleReadableMetaData.java:34-99); None elsewhere. */
      schemaName: Option[String] = None,
      /** Owning tenant, when the store has the concept (OceanBase
        * OceanBaseReadableMetadata.java:28-86); None elsewhere. */
      tenant: Option[String] = None) {
    // lazy VAL, not def: fromDDL is a full Catalyst parser invocation
    // (~30µs) — as a def, a caller touching `.schema` inside a per-row
    // lambda silently re-parsed the DDL 150k times per scan
    @transient lazy val schema: StructType = StructType.fromDDL(schemaDdl)
  }

  /** Write a table (snapshot state at offset 0) + its change log.
    * Driver-side fixture generation only. The table is built in a staging
    * dir and published by [[graft.Artifacts.publish]]'s atomic rename, so
    * a reader sees the whole table or none of it; `meta.json` marks a
    * published table. Without `force` an existing table is kept; with it,
    * the table is rebuilt and replaces the old one. */
  /** `schemaDdlOverride`: declared schema when it differs from the wire
    * encoding — a database's catalog type (GEOMETRY, SET) vs what the log
    * serializer physically emits; the gap is bridged by a registered
    * deserialization converter (graft.cdc.source.CustomConverters). */
  def write(spark: SparkSession, dir: String, table: String, db: String,
      pk: String, snapshot: DataFrame, changes: DataFrame,
      snapshotPartitions: Int = 1, force: Boolean = false,
      regionBoundaries: Seq[Long] = Seq.empty,
      schemaDdlOverride: Option[String] = None,
      schemaName: Option[String] = None,
      tenant: Option[String] = None): Unit =
    graft.Artifacts.publish(Paths.get(dir, table), replace = force,
        p => Files.exists(p.resolve("meta.json"))) { root =>
      // coalesce: an empty table has NULL min/max (stats 0/0/0 → one chunk)
      val stats = snapshot.agg(
        count(lit(1)), coalesce(min(col(pk)).cast("long"), lit(0L)),
        coalesce(max(col(pk)).cast("long"), lit(0L)))
        .collect()(0)
      val maxOff = changes.agg(coalesce(max(col(ChangeRecord.OffsetCol)), lit(0L)))
        .collect()(0).getLong(0)

      // Range-partition + sort the snapshot by PK so readers can prune whole
      // files against a chunk range and early-terminate inside a file.
      snapshot.repartitionByRange(snapshotPartitions, col(pk))
        .sortWithinPartitions(col(pk))
        .write.mode("overwrite").option("timestampFormat", TsFmt)
        .json(root.resolve("snapshot").toString)
      changes.orderBy(col(ChangeRecord.OffsetCol))
        .coalesce(1)
        .write.mode("overwrite").option("timestampFormat", TsFmt)
        .json(root.resolve("log").toString)

      // Per-file PK stats: files are PK-sorted, so min/max = first/last line.
      val fileRanges = dataFiles(root.getParent.toString, table, "snapshot").flatMap { f =>
        var first: Utf8Line = null; var last: Utf8Line = null
        val it = byteLines(f)
        while (it.hasNext) {
          val l = it.next()
          if (first == null) first = l
          last = l
        }
        if (first == null) None
        else Some(FileRange(Paths.get(f).getFileName.toString,
          mapper.readTree(first.toString).get(pk).asLong(),
          mapper.readTree(last.toString).get(pk).asLong()))
      }

      val meta = TableMeta(table, db, pk,
        schemaDdlOverride.getOrElse(snapshot.schema.toDDL),
        stats.getLong(0), stats.getLong(1), stats.getLong(2), maxOff,
        fileRanges, regionBoundaries, schemaName, tenant)
      Files.writeString(root.resolve("meta.json"), metaToJson(meta))
    }

  def readMeta(dir: String, table: String): TableMeta = {
    val n = mapper.readTree(
      Files.readString(Paths.get(dir, table, "meta.json")))
    val files = Option(n.get("snapshotFiles")).map(_.elements().asScala.map {
      e => FileRange(e.get("file").asText(), e.get("minPk").asLong(),
        e.get("maxPk").asLong())
    }.toSeq).getOrElse(Seq.empty)
    val regions = Option(n.get("regions"))
      .map(_.elements().asScala.map(_.asLong()).toSeq).getOrElse(Seq.empty)
    // absent on metas written before these fields existed → None
    def optStr(field: String): Option[String] =
      Option(n.get(field)).filterNot(_.isNull).map(_.asText())
    TableMeta(n.get("table").asText(), n.get("db").asText(),
      n.get("pk").asText(), n.get("schemaDdl").asText(),
      n.get("rowCount").asLong(), n.get("minPk").asLong(),
      n.get("maxPk").asLong(), n.get("maxOffset").asLong(), files, regions,
      optStr("schemaName"), optStr("tenant"))
  }

  /** [[scanLongField]]'s "no plain integer here" value. A field holding
    * Long.MinValue itself also reads as NoLong; every caller then takes
    * its full-decode fallback, which reads that value correctly. */
  private[cdc] final val NoLong = Long.MinValue

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Fast path: pull a TOP-LEVEL integer field out of a JSONL line without
    * building a tree. The scan tracks brace depth and string context, so a
    * same-named key inside a nested struct (envelope `before`/`after`) or
    * key-looking text inside a string VALUE can never mis-match — a naive
    * first-occurrence scan silently returned wrong values there, and the
    * early-stop/prefilter call sites would then drop data. None when the
    * key is absent at depth 1 or its value is not a plain integer (caller
    * falls back to a full decode). */
  def quickLongFieldOpt(line: String, field: String): Option[Long] = {
    val v = scanLongField(Utf8Line(line), utf8(field), topLevelOnly = true)
    if (v == NoLong) None else Some(v)
  }

  /** Like [[quickLongFieldOpt]] but matches a key at ANY nesting depth —
    * for fields that live inside the envelope's `before`/`after` structs
    * and are value-identical in both (the chunk key: key-stable rows, same
    * contract as the reference's RecordUtils.upsertBinlog dedup). Still
    * key-position only: text inside a string value never matches. */
  def quickNestedLongFieldOpt(line: String, field: String): Option[Long] = {
    val v = scanLongField(Utf8Line(line), utf8(field), topLevelOnly = false)
    if (v == NoLong) None else Some(v)
  }

  /** The quick probe itself over the line's bytes, [[NoLong]] = unknown;
    * `field` is the key's UTF-8 encoding. Allocation-free: it runs once
    * per snapshot line on a window's bisection, once per log line (the
    * offset probe) and once per routed backfill line (the chunk key). The
    * structural bytes it looks for are ASCII, which never occur inside a
    * multi-byte UTF-8 character. */
  private[cdc] def scanLongField(line: Utf8Line, field: Array[Byte],
      topLevelOnly: Boolean): Long = {
    val b = line.bytes; val n = line.end
    val fl = field.length
    var i = line.start; var depth = 0; var inStr = false; var esc = false
    while (i < n) {
      val c = b(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
        i += 1
      } else c.toInt match {
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case '"' =>
          val close = i + 1 + fl
          if ((!topLevelOnly || depth == 1) && close < n &&
              b(close) == '"' && sameBytes(b, i + 1, field)) {
            var j = skipSpace(b, close + 1, n)
            if (j < n && b(j) == ':') {
              j = skipSpace(b, j + 1, n)
              return parseLongAt(b, j, n)
            }
            // string token equal to the key text but not a key — skip it
            // as an ordinary string
          }
          inStr = true; i += 1
        case _ => i += 1
      }
    }
    NoLong
  }

  /** `b` holds `field` at `at` (the caller checked the bounds). */
  private def sameBytes(b: Array[Byte], at: Int, field: Array[Byte]): Boolean = {
    var j = 0
    while (j < field.length && b(at + j) == field(j)) j += 1
    j == field.length
  }

  /** The first position at or after `j` that is not ASCII whitespace (as
    * `Character.isWhitespace` classes the ASCII range). */
  private def skipSpace(b: Array[Byte], j0: Int, n: Int): Int = {
    var j = j0
    while (j < n && { val c = b(j); c == ' ' || (c >= 0x09 && c <= 0x0d) ||
        (c >= 0x1c && c <= 0x1f) }) j += 1
    j
  }

  /** The optionally signed digit run at `j` as Long.parseLong reads it;
    * [[NoLong]] when there is none or it overflows. */
  private def parseLongAt(b: Array[Byte], j: Int, n: Int): Long = {
    val neg = j < n && b(j) == '-'
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    var k = if (neg) j + 1 else j
    var acc = 0L // negative accumulation reaches Long.MinValue
    while (k < n && b(k) >= '0' && b(k) <= '9') {
      val d = b(k) - '0'
      if (acc < limit / 10) return NoLong
      acc *= 10
      if (acc < limit + d) return NoLong
      acc -= d
      k += 1
    }
    if (k == (if (neg) j + 1 else j)) NoLong
    else if (neg) acc else -acc
  }

  /** A top-level integer field with a Jackson fallback — for fields that
    * are always present (e.g. `__offset` in log lines). */
  def quickLongField(line: Utf8Line, field: String): Long = {
    val v = scanLongField(line, utf8(field), topLevelOnly = true)
    if (v != NoLong) v else mapper.readTree(line.toString).get(field).asLong()
  }

  def quickLongField(line: String, field: String): Long =
    quickLongField(Utf8Line(line), field)

  /** Tables present under `dir` (reference: discoverDataCollections,
    * DataSourceDialect.java:45-52). */
  // Files.list holds the DIRECTORY's fd until the stream is closed —
  // consuming the iterator does not release it. Every planner probe lists
  // directories, so an unclosed stream here is a per-query fd leak that
  // compounds across a long-running process (the round-3 bench hit EMFILE).
  private def listDir[A](p: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  def discoverTables(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return Seq.empty
    listDir(p)(_.filter(d => Files.exists(d.resolve("meta.json")))
      .map(_.getFileName.toString).toSeq.sorted)
  }

  /** Data files of a table section ("snapshot" or "log"), sorted by name. */
  def dataFiles(dir: String, table: String, section: String): Seq[String] = {
    val p = Paths.get(dir, table, section)
    if (!Files.isDirectory(p)) return Seq.empty
    listDir(p)(_.map(_.toString)
      .filter(f => f.endsWith(".json") || f.endsWith(".txt") || f.endsWith(".jsonl"))
      .toSeq.sorted)
  }

  /** Line iterator that owns its file descriptor: closes on exhaustion
    * (the end of its window) or explicitly. Open instances register
    * per-thread so a PartitionReader's `close()` can sweep whatever a
    * lazily-consumed composition left open — an abandoned fd per
    * early-stopped chunk scan is executor fd exhaustion at many-chunk
    * scale.
    *
    * Reads the byte window [start, end) = `window(channel)` of the file
    * through a [[LineReader]] and hands out each line as a slice of the
    * buffer it was read into. Windows start and end at line starts, so
    * lines split as `BufferedReader.readLine` splits the whole file. A
    * line must be well-formed UTF-8, or the read throws the strict
    * decoder's `CharacterCodingException`. */
  final class ClosingLineIterator private[FileCdcDatabase] (file: String,
      window: FileChannel => (Long, Long))
      extends Iterator[Utf8Line] with AutoCloseable {
    private val channel = FileChannel.open(Paths.get(file),
      StandardOpenOption.READ)
    private var closed = false
    registerOpen(this)
    private val reader = new LineReader(channel, 64 * 1024)
    private val (start, end) =
      try window(channel) catch { case e: Throwable => close(); throw e }
    private var pos = start
    private var nextLine: Utf8Line = advance()

    private def advance(): Utf8Line =
      if (closed) null
      else if (pos >= end || pos >= reader.size) { close(); null }
      else {
        val l = reader.lineAt(pos)
        if (!reader.lineAscii && !Utf8Line.isWellFormed(l.bytes, l.start, l.end))
          Utf8Line.reject(l.bytes, l.start, l.end)
        pos = reader.lineEnd
        l
      }
    override def hasNext: Boolean = nextLine != null
    override def next(): Utf8Line = {
      val l = nextLine
      if (l == null) throw new NoSuchElementException(file)
      nextLine = advance()
      l
    }
    override def close(): Unit = if (!closed) {
      closed = true
      nextLine = null
      // finally: a close failure must not leave a stale registry entry for
      // the next scope sweep to trip over
      try channel.close() finally deregisterOpen(this)
    }
  }

  /** A [[ClosingLineIterator]]'s lines as text, one String per line, for
    * callers that need text; closing it closes the file. */
  final class StringLines private[FileCdcDatabase] (lines: ClosingLineIterator)
      extends Iterator[String] with AutoCloseable {
    override def hasNext: Boolean = lines.hasNext
    override def next(): String = lines.next().toString
    override def close(): Unit = lines.close()
  }

  /** Whole lines of one file, read at any line start through a block
    * buffer: the window reads and the probes of [[sortedLines]]. Line ends
    * are those of `BufferedReader.readLine`: `\n`, `\r\n` or a lone `\r`;
    * a final line needs no terminator. A line is a slice of a buffer the
    * reader never writes again. A probe takes the bytes as they are, so it
    * never fails on a malformed line outside the window it looks for. */
  private final class LineReader(ch: FileChannel, block: Int) {
    val size: Long = ch.size()
    private var buf = Array.emptyByteArray
    private var bufStart = 0L; private var bufLen = 0
    /** Start of the line after the one [[lineAt]] returned last. */
    var lineEnd: Long = 0L
    /** Whether the line [[lineAt]] returned last is all ASCII. */
    var lineAscii: Boolean = true

    /** Buffer [pos, pos + need), or up to the end of the file. */
    private def fill(pos: Long, need: Int): Unit = {
      val want = math.min(need.toLong, size - pos)
      if (pos < bufStart || pos + want > bufStart + bufLen) {
        // a fresh buffer: the line a probe holds stays intact while the
        // reader looks past its terminator
        buf = new Array[Byte](
          math.max(0L, math.min(math.max(need, block).toLong, size - pos)).toInt)
        bufStart = pos; bufLen = 0
        var n = 0
        while (n >= 0 && bufLen < buf.length) {
          n = ch.read(ByteBuffer.wrap(buf, bufLen, buf.length - bufLen),
            pos + bufLen)
          if (n > 0) bufLen += n
        }
      }
    }

    private def byteAt(pos: Long): Int =
      if (pos < 0 || pos >= size) -1
      else { fill(pos, 1); buf((pos - bufStart).toInt) }

    /** Start of the line after the terminator byte at `pos`. */
    private def afterTerminator(pos: Long): Long =
      if (byteAt(pos) == '\r' && byteAt(pos + 1) == '\n') pos + 2 else pos + 1

    /** The first line start at or after `pos` (`size` when none). */
    def lineStartFrom(pos: Long): Long = {
      if (pos <= 0) return 0L
      val prev = byteAt(pos - 1)
      if (prev == '\n' || (prev == '\r' && byteAt(pos) != '\n')) return pos
      var p = pos
      while (p < size) {
        val c = byteAt(p)
        if (c == '\n' || c == '\r') return afterTerminator(p)
        p += 1
      }
      size
    }

    /** The line starting at `pos`; sets [[lineEnd]] and [[lineAscii]]. */
    def lineAt(pos: Long): Utf8Line = {
      var need = 256
      while (true) {
        fill(pos, need)
        val b = buf; val n = bufLen
        val off = (pos - bufStart).toInt
        var i = off
        var bits = 0 // negative once a byte >= 0x80 was seen
        // most bytes lie above '\r' (a byte >= 0x80 is negative)
        while (i < n && { val c = b(i); bits |= c
            c > '\r' || (c != '\n' && c != '\r') })
          i += 1
        if (i < n || bufStart + n >= size) {
          val line = new Utf8Line(b, off, i)
          val term = bufStart + i
          lineEnd = if (term >= size) size else afterTerminator(term)
          lineAscii = bits >= 0
          return line
        }
        need = (i - off) * 2 + 2 // the line runs past the buffer: widen
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Below this many bytes the window search scans lines instead of
    * bisecting. */
  private val LinearScanBytes = 16 * 1024

  /** Byte position just after the last line whose key is < `k` (`from`
    * when none lies at or after it), in a file whose keyed lines ascend on
    * `key` ([[NoLong]] = the line has no key). Bisection on byte offsets
    * aligned to line starts; a probe that finds no key steps on to the
    * next line. O(log size) probe lines plus one small linear stretch. */
  private def afterLastBelow(probe: LineReader, from: Long, k: Long,
      key: Utf8Line => Long): Long = {
    var a = from // a line start; the answer is >= a
    var z = probe.size // the answer is <= z
    var bisect = true
    while (bisect && z - a > LinearScanBytes) {
      val s = probe.lineStartFrom(a + (z - a) / 2)
      if (s >= z) bisect = false
      else {
        var p = s; var found = false
        while (!found && p < z) {
          val v = key(probe.lineAt(p))
          val e = probe.lineEnd
          if (v != NoLong) {
            found = true
            // sorted: every keyed line from s on is >= k
            if (v < k) a = e else z = s
          } else p = e
        }
        if (!found) z = s
      }
    }
    var res = a; var p = a; var done = false
    while (!done && p < z) {
      val v = key(probe.lineAt(p))
      if (v != NoLong) { if (v < k) res = probe.lineEnd else done = true }
      p = probe.lineEnd
    }
    res
  }

  /** Start of the first keyed line at or after line start `pos` (`size`
    * when none). */
  private def nextKeyed(probe: LineReader, pos: Long,
      key: Utf8Line => Long): Long = {
    var p = pos
    while (p < probe.size) {
      if (key(probe.lineAt(p)) != NoLong) return p
      p = probe.lineEnd
    }
    probe.size
  }

  /** Lines of `file` whose keys lie in [lo, hi), for a file whose keyed
    * lines ascend on `key` — the positioned read behind both range scans of
    * the file dialect (a snapshot file sorted on its pk, a log file sorted
    * on its offset). Returns the byte window [first line keyed >= lo, first
    * line keyed >= hi): a line without a key ([[NoLong]]) goes with the
    * keyed line before it, so the windows of adjacent ranges tile the file
    * and each line is read once. `openAfterLastBelow` starts the window
    * just after the last line keyed < lo instead, so it also takes the
    * unkeyed lines in front of its first keyed line. Costs the window plus
    * O(log size) probe lines, not the prefix before it. */
  def sortedLines(file: String, lo: Option[Long], hi: Option[Long],
      key: Utf8Line => Long,
      openAfterLastBelow: Boolean = false): ClosingLineIterator =
    new ClosingLineIterator(file, { ch =>
      val probe = new LineReader(ch, 8192)
      def firstAtOrAbove(from: Long, k: Long): Long =
        nextKeyed(probe, afterLastBelow(probe, from, k, key), key)
      val start = lo.fold(0L) { k =>
        if (openAfterLastBelow) afterLastBelow(probe, 0L, k, key)
        else firstAtOrAbove(0L, k)
      }
      // hi >= lo puts the end at or past the start: search from there
      val end = hi.fold(probe.size) { h =>
        math.max(start, firstAtOrAbove(if (lo.exists(h < _)) 0L else start, h))
      }
      (start, end)
    })

  /** A registry of lazily-consumed resources (file readers, JDBC cursors)
    * owned by one consumer. Each PartitionReader holds its own scope and
    * runs its read loop under [[inScope]], so its `close()` sweeps exactly
    * the resources *that reader* left open — a plan that interleaves two
    * readers on one task thread can no longer have one reader's close kill
    * the other's open cursors mid-read. */
  final class ResourceScope {
    private val open: java.util.Set[AutoCloseable] =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AutoCloseable, java.lang.Boolean]())
    private[cdc] def add(c: AutoCloseable): Unit = open.add(c)
    private[cdc] def remove(c: AutoCloseable): Unit = open.remove(c)
    /** Close every resource still registered here (closes are idempotent —
      * a stale entry whose resource was already closed elsewhere is a
      * no-op) and empty the scope. */
    def closeAll(): Unit = {
      new java.util.ArrayList(open).forEach(_.close())
      open.clear()
    }
  }

  private val currentScope = new ThreadLocal[ResourceScope]
  // safety net for resources opened outside any reader scope (driver-side
  // planning scans, tests)
  private val threadScope = new ThreadLocal[ResourceScope] {
    override def initialValue(): ResourceScope = new ResourceScope
  }
  private def scopeNow: ResourceScope =
    Option(currentScope.get()).getOrElse(threadScope.get())

  /** Run `body` with resources opened on this thread attributed to `s`
    * (restores the previous attribution on exit, so nesting is safe). */
  def inScope[A](s: ResourceScope)(body: => A): A = {
    val prev = currentScope.get()
    currentScope.set(s)
    try body finally currentScope.set(prev)
  }

  /** Track a resource owned by a lazily-consumed iterator on this thread
    * (file reader, JDBC cursor); pair with [[deregisterOpen]] on close. */
  def registerOpen(c: AutoCloseable): Unit = scopeNow.add(c)
  def deregisterOpen(c: AutoCloseable): Unit = scopeNow.remove(c)

  /** Close every resource opened on this thread *outside* a reader scope —
    * the safety net for scope-less consumers abandoned mid-scan. */
  def closeAllOnThread(): Unit = threadScope.get().closeAll()

  /** The lines of `file` that contain `marker`, in file order, found by a
    * byte search: only matching lines are decoded. Lines split as
    * `BufferedReader.readLine` splits them; an ASCII marker never matches
    * inside a multi-byte UTF-8 character, so on a valid UTF-8 file the
    * result is the one of `lines(file).filter(_.contains(marker))`. */
  def linesContaining(file: String, marker: String): Seq[String] = {
    val m = marker.getBytes(StandardCharsets.UTF_8)
    require(m.nonEmpty && m.forall(_ >= 0) &&
      !m.exists(b => b == '\n' || b == '\r'),
      s"byte search needs a one-line ASCII marker: '$marker'")
    // Horspool: on a mismatch, slide by the distance from the window's
    // last byte to its last occurrence in the marker
    val shift = Array.fill(256)(m.length)
    for (k <- 0 until m.length - 1) shift(m(k) & 0xff) = m.length - 1 - k
    val out = Seq.newBuilder[String]
    val in = Files.newInputStream(Paths.get(file))
    try {
      var buf = new Array[Byte](1 << 16)
      var len = 0 // buf(0 until len): the unfinished line, then new bytes
      var eof = false
      def isEol(b: Byte): Boolean = b == '\n' || b == '\r'
      while (!eof) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        val n = in.read(buf, len, buf.length - len)
        if (n < 0) eof = true else len += n
        // complete lines end at the last terminator; at EOF, everything
        var done = if (eof) len else len - 1
        while (done >= 0 && !eof && !isEol(buf(done))) done -= 1
        val lim = if (eof) len else done + 1
        var i = 0
        while (i + m.length <= lim) {
          var j = m.length - 1
          while (j >= 0 && buf(i + j) == m(j)) j -= 1
          if (j < 0) {
            var a = i; while (a > 0 && !isEol(buf(a - 1))) a -= 1
            var z = i; while (z < lim && !isEol(buf(z))) z += 1
            out += new String(buf, a, z - a, StandardCharsets.UTF_8)
            i = z
          } else i += shift(buf(i + m.length - 1) & 0xff)
        }
        System.arraycopy(buf, lim, buf, 0, len - lim)
        len -= lim
      }
    } finally in.close()
    out.result()
  }

  /** The lines of a JSONL file as UTF-8 bytes (executor-side). */
  def byteLines(file: String): ClosingLineIterator =
    new ClosingLineIterator(file, ch => (0L, ch.size()))

  /** [[byteLines]] as text. */
  def lines(file: String): StringLines = new StringLines(byteLines(file))

  private def metaToJson(m: TableMeta): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val files = m.snapshotFiles.map(f =>
      s"""{"file":${q(f.file)},"minPk":${f.minPk},"maxPk":${f.maxPk}}""")
      .mkString("[", ",", "]")
    val regions = m.regions.mkString("[", ",", "]")
    val extras = m.schemaName.map(s => s""","schemaName":${q(s)}""")
      .getOrElse("") +
      m.tenant.map(t => s""","tenant":${q(t)}""").getOrElse("")
    s"""{"table":${q(m.table)},"db":${q(m.db)},"pk":${q(m.pk)},
       |"schemaDdl":${q(m.schemaDdl)},"rowCount":${m.rowCount},
       |"minPk":${m.minPk},"maxPk":${m.maxPk},"maxOffset":${m.maxOffset},
       |"snapshotFiles":$files,"regions":$regions$extras}""".stripMargin
  }
}
