package graft.cdc

import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
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

  /** Write a table (snapshot state at offset 0) + its change log. Driver-side
    * fixture generation only; idempotent (skips if already written). */
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
      tenant: Option[String] = None): Unit = {
    val root = Paths.get(dir, table)
    val donePath = root.resolve("_WRITTEN")
    if (!force && Files.exists(donePath)) return
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
    val fileRanges = dataFiles(dir, table, "snapshot").flatMap { f =>
      var first: String = null; var last: String = null
      val it = lines(f)
      while (it.hasNext) {
        val l = it.next()
        if (first == null) first = l
        last = l
      }
      if (first == null) None
      else Some(FileRange(Paths.get(f).getFileName.toString,
        mapper.readTree(first).get(pk).asLong(),
        mapper.readTree(last).get(pk).asLong()))
    }

    val meta = TableMeta(table, db, pk,
      schemaDdlOverride.getOrElse(snapshot.schema.toDDL),
      stats.getLong(0), stats.getLong(1), stats.getLong(2), maxOff,
      fileRanges, regionBoundaries, schemaName, tenant)
    Files.writeString(root.resolve("meta.json"), metaToJson(meta))
    Files.writeString(donePath, "ok")
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

  /** [[quickLongField]]'s "no plain integer here" value. A field holding
    * Long.MinValue itself also reads as NoLong; every caller then takes
    * its full-decode fallback, which reads that value correctly. */
  private[cdc] final val NoLong = Long.MinValue

  /** Fast path: pull a TOP-LEVEL integer field out of a JSONL line without
    * building a tree. The scan tracks brace depth and string context, so a
    * same-named key inside a nested struct (envelope `before`/`after`) or
    * key-looking text inside a string VALUE can never mis-match — a naive
    * first-occurrence scan silently returned wrong values there, and the
    * early-stop/prefilter call sites would then drop data. None when the
    * key is absent at depth 1 or its value is not a plain integer (caller
    * falls back to a full decode). */
  def quickLongFieldOpt(line: String, field: String): Option[Long] = {
    val v = scanLongField(line, field, topLevelOnly = true)
    if (v == NoLong) None else Some(v)
  }

  /** Like [[quickLongFieldOpt]] but matches a key at ANY nesting depth —
    * for fields that live inside the envelope's `before`/`after` structs
    * and are value-identical in both (the chunk key: key-stable rows, same
    * contract as the reference's RecordUtils.upsertBinlog dedup). Still
    * key-position only: text inside a string value never matches. */
  def quickNestedLongFieldOpt(line: String, field: String): Option[Long] = {
    val v = quickNestedLongField(line, field)
    if (v == NoLong) None else Some(v)
  }

  /** [[quickNestedLongFieldOpt]] without the Option: [[NoLong]] = unknown. */
  private[cdc] def quickNestedLongField(line: String, field: String): Long =
    scanLongField(line, field, topLevelOnly = false)

  /** The quick probe itself, [[NoLong]] = unknown. Allocation-free: it
    * runs once per snapshot line (the pk early stop) and once per log line
    * (the offset probe). */
  private[cdc] def scanLongField(line: String, field: String,
      topLevelOnly: Boolean): Long = {
    val n = line.length
    var i = 0; var depth = 0; var inStr = false; var esc = false
    while (i < n) {
      val c = line.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
        i += 1
      } else c match {
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case '"' =>
          val close = i + 1 + field.length
          if ((!topLevelOnly || depth == 1) && close < n &&
              line.startsWith(field, i + 1) && line.charAt(close) == '"') {
            var j = close + 1
            while (j < n && line.charAt(j).isWhitespace) j += 1
            if (j < n && line.charAt(j) == ':') {
              j += 1
              while (j < n && line.charAt(j).isWhitespace) j += 1
              return parseLongAt(line, j)
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

  /** The optionally signed digit run at `j` as Long.parseLong reads it;
    * [[NoLong]] when there is none or it overflows. */
  private def parseLongAt(line: String, j: Int): Long = {
    val n = line.length
    val neg = j < n && line.charAt(j) == '-'
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    var k = if (neg) j + 1 else j
    var acc = 0L // negative accumulation reaches Long.MinValue
    while (k < n && line.charAt(k).isDigit) {
      val d = Character.digit(line.charAt(k), 10)
      if (acc < limit / 10) return NoLong
      acc *= 10
      if (acc < limit + d) return NoLong
      acc -= d
      k += 1
    }
    if (k == (if (neg) j + 1 else j)) NoLong
    else if (neg) acc else -acc
  }

  /** [[quickLongFieldOpt]] with a Jackson fallback — for top-level fields
    * that are always present (e.g. `__offset` in log lines). */
  def quickLongField(line: String, field: String): Long = {
    val v = scanLongField(line, field, topLevelOnly = true)
    if (v != NoLong) v else mapper.readTree(line).get(field).asLong()
  }

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

  /** Line iterator that owns its file descriptor: closes on exhaustion, on
    * an early stop via [[takeWhileClosing]], or explicitly. Open instances
    * register per-thread so a PartitionReader's `close()` can sweep
    * whatever a lazily-consumed composition left open — an abandoned fd per
    * early-stopped chunk scan is executor fd exhaustion at many-chunk
    * scale. */
  final class ClosingLineIterator private[FileCdcDatabase] (file: String)
      extends Iterator[String] with AutoCloseable {
    private val reader = Files.newBufferedReader(
      Paths.get(file), StandardCharsets.UTF_8)
    private var closed = false
    registerOpen(this)
    private var nextLine: String = advance()

    private def advance(): String = {
      if (closed) return null
      val l = reader.readLine()
      if (l == null) close()
      l
    }
    override def hasNext: Boolean = nextLine != null
    override def next(): String = {
      val l = nextLine
      if (l == null) throw new NoSuchElementException(file)
      nextLine = advance()
      l
    }
    override def close(): Unit = if (!closed) {
      closed = true
      nextLine = null
      // finally: a reader.close() failure must not leave a stale registry
      // entry for the next scope sweep to trip over
      try reader.close() finally deregisterOpen(this)
    }

    /** `takeWhile` that closes the underlying file the moment the predicate
      * first fails — plain `takeWhile` would abandon the open fd. */
    def takeWhileClosing(p: String => Boolean): Iterator[String] =
      new Iterator[String] {
        override def hasNext: Boolean = {
          val ok = nextLine != null && p(nextLine)
          if (!ok) close()
          ok
        }
        override def next(): String =
          if (hasNext) ClosingLineIterator.this.next()
          else throw new NoSuchElementException(file)
      }
  }

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

  /** Iterate the lines of a JSONL file (executor-side). */
  def lines(file: String): ClosingLineIterator = new ClosingLineIterator(file)

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
