package cdcbench

import graft.cdc.{ChangeRecord, FileCdcDatabase}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** One row of the benchmark table. */
final case class BenchRow(id: Long, grp: Int, amount: Long, tag: String)

/** Seeded CDC inputs and their ground truth.
  *
  * The table starts as `rows` keys 0 until `rows`, each with an image
  * derived from (seed, key, version 0). The change log is generated by one
  * sequential pass over a live-key set, so every update and delete names a
  * live key and carries its current before-image: 60% updates, 20% inserts
  * (fresh keys) and 20% deletes, with event `i` at offset `i + 1`. Row
  * images are pure functions of (seed, key, version), where the version is
  * the offset that wrote the image, so the ground truth is recomputed here
  * from the generated log alone, without `graft.cdc`. */
object Gen {
  val Db = "bench"
  val Table = "t"
  val Pk = "id"
  val Groups = 64
  /** Spark partitions the generator writes with: fixed, so the inputs
    * depend on the seed alone, not on the host. */
  val Parts = 8

  val Payload: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("tag", StringType, nullable = false)))
  val PayloadCols: Seq[String] = Payload.fieldNames.toSeq

  val Insert: Byte = 'c'
  val Update: Byte = 'u'
  val Delete: Byte = 'd'

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The image key `id` has after the write at offset `version`
    * (0 = the snapshot). */
  def image(seed: Long, id: Long, version: Long): BenchRow = {
    val h = mix(mix(seed) ^ mix(id) ^ mix(version + 0x51ED27L))
    BenchRow(id, java.lang.Long.remainderUnsigned(h, Groups).toInt,
      (h >>> 8) & 0xFFFFF, "tag-" + java.lang.Long.toHexString(mix(h)))
  }

  /** Order-insensitive fingerprint of one row. */
  def rowHash(id: Long, grp: Int, amount: Long, tag: String): Long =
    mix(id ^ mix(grp.toLong ^ mix(amount ^ mix(tag.hashCode.toLong))))

  /** Row count, sum of the low 32 bits and XOR of every row's hash. */
  final case class Checksum(rows: Long, sum32: Long, xor: Long)

  def checksum(images: Iterator[BenchRow]): Checksum = {
    var n = 0L; var s = 0L; var x = 0L
    images.foreach { r =>
      val h = rowHash(r.id, r.grp, r.amount, r.tag)
      n += 1; s += h & 0xFFFFFFFFL; x ^= h
    }
    Checksum(n, s, x)
  }

  /** How an update picks the live key it changes (deletes pick
    * uniformly). */
  sealed trait KeyDist
  case object Uniform extends KeyDist
  final case class Zipf(exponent: Double) extends KeyDist

  /** A generated change log: event `i` has offset `i + 1`, operation
    * `op(i)`, key `key(i)`, and the versions of its before- and
    * after-image (-1 when the image is absent). */
  final class Log(val seed: Long, val rows: Int, val op: Array[Byte],
      val key: Array[Long], val before: Array[Long], val after: Array[Long])
      extends Serializable {
    def size: Int = op.length

    /** Versions of every key after applying events with offset <= upTo;
      * -1 marks a key that is not live. */
    def versionsAt(upTo: Long): Array[Long] = {
      val v = Array.fill[Long](rows + size)(-1L)
      java.util.Arrays.fill(v, 0, rows, 0L)
      var i = 0
      while (i < size && i + 1L <= upTo) {
        v(key(i).toInt) = if (op(i) == Delete) -1L else i + 1L
        i += 1
      }
      v
    }

    /** The table state after applying events with offset <= upTo. */
    def stateAt(upTo: Long): Checksum = {
      val v = versionsAt(upTo)
      checksum(v.indices.iterator.filter(v(_) >= 0)
        .map(k => image(seed, k.toLong, v(k))))
    }

    /** Per group: net row count and net amount of the events with offset
      * <= upTo, the retract aggregate of a replay that skips the
      * snapshot. Only groups some event touches appear. */
    def groupDeltasAt(upTo: Long): Map[Int, (Long, Long)] = {
      val cnt = new Array[Long](Groups); val sum = new Array[Long](Groups)
      val seen = new Array[Boolean](Groups)
      def add(id: Long, version: Long, sign: Int): Unit = {
        val r = image(seed, id, version)
        cnt(r.grp) += sign; sum(r.grp) += sign * r.amount; seen(r.grp) = true
      }
      var i = 0
      while (i < size && i + 1L <= upTo) {
        if (before(i) >= 0) add(key(i), before(i), -1)
        if (after(i) >= 0) add(key(i), after(i), +1)
        i += 1
      }
      (0 until Groups).filter(seen(_)).map(g => g -> (cnt(g), sum(g))).toMap
    }
  }

  def changeLog(seed: Long, rows: Int, events: Int, dist: KeyDist): Log = {
    val rnd = new SplittableRandom(mix(seed ^ 0x10C))
    val cap = rows + events
    val version = Array.fill[Long](cap)(-1L)
    val live = new Array[Long](cap)
    var i = 0
    while (i < rows) { version(i) = 0L; live(i) = i; i += 1 }
    var nLive = rows
    var nextKey = rows.toLong
    // Zipf over live-set positions for updates: position 0 holds the
    // hottest key. Deletes pick uniformly, so hot keys stay live; a delete
    // moves the last live key into the freed position
    val cdf: Array[Double] = dist match {
      case Zipf(s) =>
        val w = Array.tabulate(math.max(1, rows))(r => 1.0 / math.pow(r + 1.0, s))
        val total = w.sum
        var acc = 0.0
        w.map { x => acc += x / total; acc }
      case Uniform => null
    }
    def pick(forUpdate: Boolean): Int =
      if (cdf == null || !forUpdate) rnd.nextInt(nLive)
      else {
        val u = rnd.nextDouble()
        var lo = 0; var hi = cdf.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cdf(mid) < u) lo = mid + 1 else hi = mid
        }
        math.min(lo, nLive - 1)
      }
    val op = new Array[Byte](events)
    val key = new Array[Long](events)
    val before = new Array[Long](events)
    val after = new Array[Long](events)
    i = 0
    while (i < events) {
      val off = i + 1L
      val r = rnd.nextInt(100)
      if (nLive == 0 || r < 20) {
        val k = nextKey; nextKey += 1
        live(nLive) = k; nLive += 1
        op(i) = Insert; key(i) = k; before(i) = -1L; after(i) = off
        version(k.toInt) = off
      } else {
        val p = pick(forUpdate = r < 80)
        val k = live(p)
        key(i) = k; before(i) = version(k.toInt)
        if (r < 80) {
          op(i) = Update; after(i) = off; version(k.toInt) = off
        } else {
          op(i) = Delete; after(i) = -1L; version(k.toInt) = -1L
          nLive -= 1
          val last = live(nLive)
          live(p) = last
        }
      }
      i += 1
    }
    new Log(seed, rows, op, key, before, after)
  }

  /** The table at offset 0, generated in parallel by Spark. */
  def snapshotDf(spark: SparkSession, seed: Long, rows: Int): DataFrame = {
    import spark.implicits._
    spark.range(rows).map(id => image(seed, id, 0L)).toDF()
  }

  private val TsBase = 1700000000000L

  private def imageRow(seed: Long, id: Long, version: Long): Row =
    if (version < 0) null
    else {
      val r = image(seed, id, version)
      Row(r.id, r.grp, r.amount, r.tag)
    }

  /** Envelope records of events [from, until) of `log`, built by Spark. */
  def envelopes(spark: SparkSession, log: Log, from: Int, until: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(from until until, Parts).map { i =>
      val off = i + 1L
      Row(off, new String(Array(log.op(i).toChar)), TsBase + off, Db, Table,
        imageRow(log.seed, log.key(i), log.before(i)),
        imageRow(log.seed, log.key(i), log.after(i)))
    }
    spark.createDataFrame(rdd, ChangeRecord.envelopeSchema(Payload))
  }

  /** Write the table and the first `logEvents` events of `log` as a file
    * CDC database under `dir`. */
  def writeDb(spark: SparkSession, dir: String, seed: Long, rows: Int,
      log: Log, logEvents: Int): Unit =
    FileCdcDatabase.write(spark, dir, Table, Db, Pk,
      snapshot = snapshotDf(spark, seed, rows),
      changes = envelopes(spark, log, 0, logEvents),
      snapshotPartitions = Parts, force = true)

  /** Write events [from, log.size) as log files of `perFile` events each
    * under `pendingDir`, named so they sort after the database's own log
    * files, and return each file's (path, first offset - 1, last offset). */
  def writePending(spark: SparkSession, pendingDir: String, log: Log,
      from: Int, perFile: Int): Seq[(Path, Long, Long)] = {
    val staging = Paths.get(pendingDir, ".staging")
    envelopes(spark, log, from, log.size)
      .orderBy(ChangeRecord.OffsetCol).coalesce(1)
      .write.mode("overwrite").json(staging.toString)
    val part = listFiles(staging).filter(_.getFileName.toString.endsWith(".json"))
    require(part.size == 1, s"expected one staged log file, got ${part.size}")
    val lines = Files.readAllLines(part.head, StandardCharsets.UTF_8).asScala
    require(lines.size == log.size - from, "staged log lost events")
    val out = lines.grouped(perFile).zipWithIndex.map { case (ls, k) =>
      val f = Paths.get(pendingDir, f"part-9$k%06d.json")
      Files.write(f, (ls.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      val first = from.toLong + k.toLong * perFile
      (f, first, first + ls.size)
    }.toSeq
    graft.QueryUtil.deleteRecursively(staging.toFile)
    out
  }

  private val SnapshotFiles = """"snapshotFiles":\[[^\]]*\]""".r

  /** SHA-256 over the content of a database written under `dir`: the
    * lines of each section in file order, and the metadata without the
    * per-file key ranges. The writer picks its snapshot file boundaries
    * from a random sample, so two writes of the same inputs split the
    * same lines differently; the digest is equal for both. */
  def digest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
    val tables = listFiles(Paths.get(dir)).filter(Files.isDirectory(_))
    tables.foreach { t =>
      add(t.getFileName.toString)
      add(SnapshotFiles.replaceAllIn(
        Files.readString(t.resolve("meta.json"), StandardCharsets.UTF_8), ""))
      Seq("snapshot", "log").foreach { section =>
        add(section)
        FileCdcDatabase.dataFiles(dir, t.getFileName.toString, section).foreach { f =>
          val it = FileCdcDatabase.lines(f)
          try it.foreach { l => add(l); add("\n") } finally it.close()
        }
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sorted finally s.close()
  }
}
