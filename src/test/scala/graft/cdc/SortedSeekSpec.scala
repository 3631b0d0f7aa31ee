package graft.cdc

import graft.cdc.dialect.FileCdcDialect
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The positioned reads of the file dialect against a plain line-by-line
  * reading of the same file: `snapshotLines` over a pk-sorted file and
  * `logLines` over an offset-sorted one must return exactly the lines of
  * the range's window, in order, however the file is laid out — multi-byte
  * UTF-8, `\n` / `\r\n` / lone `\r` terminators, no final newline, blank
  * and malformed lines, duplicate keys, keys written as JSON strings or
  * floats, and files long enough to be bisected.
  *
  * A line without a readable key cannot be range-filtered; it belongs by
  * position. Snapshot windows are [first line keyed >= lo, first line keyed
  * >= hi), so such a line goes with the keyed line before it and the
  * windows of a chunk tiling read every line once. A log window opens just
  * after the last line with offset <= from and closes at the first line
  * with offset > to.
  *
  * Seeds are printed; set GRAFT_PROP_SEED to replay or explore another
  * one, GRAFT_PROP_CASES to change the number of files per test. */
class SortedSeekSpec extends AnyFunSuite {
  import SortedSeekSpec._

  private val seed: Long =
    sys.env.get("GRAFT_PROP_SEED").map(_.toLong).getOrElse(20261017L)
  private val cases: Int =
    sys.env.get("GRAFT_PROP_CASES").map(_.toInt).getOrElse(120)

  private def sample[A](g: Gen[A], s: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(s))

  /** The file's lines as `BufferedReader.readLine` splits them. */
  private def readLines(f: Path): Vector[String] = {
    val r = Files.newBufferedReader(f, StandardCharsets.UTF_8)
    try Iterator.continually(r.readLine()).takeWhile(_ != null).toVector
    finally r.close()
  }

  private def drain(it: Iterator[String]): Vector[String] = it.toVector

  /** Window membership by position: `owner(i)` is the key of the last
    * keyed line at or before i, `next(i)` of the first at or after i. */
  private def positions(keys: Vector[Option[Long]])
      : (Vector[Option[Long]], Vector[Option[Long]]) = {
    val owner = keys.scanLeft(Option.empty[Long])((o, k) => k.orElse(o)).tail
    val next = keys.scanRight(Option.empty[Long])((k, o) => k.orElse(o)).init
    (owner, next)
  }

  test("snapshotLines reads exactly the chunk's window of a pk-sorted file") {
    println(s"SortedSeekSpec snapshot: seed=$seed cases=$cases")
    var bisected = 0
    (0 until cases).foreach { c =>
      val s = seed * 1000003L + c
      val file = sample(sortedFile(stringKeys = true), s)
      val dir = Files.createTempDirectory("sorted-seek")
      val f = writeTable(dir, file)
      if (Files.size(f) > 64 * 1024) bisected += 1
      val all = readLines(f)
      val keys = all.map(snapshotKey)
      val (owner, _) = positions(keys)
      def window(lo: Option[Long], hi: Option[Long]): Vector[String] =
        all.indices.filter { i =>
          lo.forall(l => owner(i).exists(_ >= l)) &&
            hi.forall(h => owner(i).forall(_ < h))
        }.map(all).toVector
      def read(lo: Option[Long], hi: Option[Long]): Vector[String] =
        drain(FileCdcDialect.snapshotLines(dir.toString, "t", "id", lo, hi))
      // random ranges: the window, and inside the range the keyed lines
      // the pre-seek prefix scan returned (every line keyed < hi, from the
      // start of the file), filtered to the range
      (0 until 8).foreach { r =>
        val (lo, hi) = sample(Gen.zip(bound, bound), s * 31L + r)
        val got = read(lo, hi)
        assert(got === window(lo, hi), s"seed $s range [$lo, $hi)")
        def inRange(k: Option[Long]) =
          k.exists(v => lo.forall(v >= _) && hi.forall(v < _))
        val prefix = all.zip(keys).takeWhile { case (_, k) =>
          hi.forall(h => k.forall(_ < h)) }
        assert(got.filter(l => inRange(snapshotKey(l))) ===
          prefix.collect { case (l, k) if inRange(k) => l },
          s"seed $s range [$lo, $hi)")
      }
      // a chunk tiling reads every line exactly once, in file order
      val cuts = sample(Gen.listOf(Gen.choose(-50L, 2050L)), s * 17L)
        .distinct.sorted
      val bounds = (None +: cuts.map(Some(_))).zip(cuts.map(Some(_)) :+ None)
      assert(bounds.flatMap { case (lo, hi) => read(lo, hi) } === all,
        s"seed $s cuts $cuts")
      deleteTree(dir)
    }
    // the search must have bisected, not only scanned short files
    assert(bisected > cases / 4, s"bisected $bisected of $cases")
  }

  test("logLines reads (from, to] of an offset-sorted log; malformed lines by position") {
    println(s"SortedSeekSpec log: seed=$seed cases=$cases")
    (0 until cases).foreach { c =>
      val s = seed * 1000033L + c
      val wellFormed = c % 2 == 0
      val file = sample(sortedFile(stringKeys = false,
        malformed = !wellFormed), s)
      val dir = Files.createTempDirectory("sorted-seek-log")
      val f = writeLog(dir, file)
      val all = readLines(f)
      val keys = all.map(offsetKey)
      val (owner, next) = positions(keys)
      def read(from: Long, to: Long): Vector[String] =
        drain(FileCdcDialect.logLines(dir.toString, "t", from, to))
      (0 until 8).foreach { r =>
        val (a, b) = sample(Gen.zip(Gen.choose(-50L, 2050L),
          Gen.choose(-50L, 2050L)), s * 31L + r)
        val from = if (r == 0) Long.MinValue else a
        val to = if (r == 1) Long.MaxValue else b
        val got = read(from, to)
        if (wellFormed) {
          // the pre-seek scan: stop at the first offset past `to`, keep
          // those past `from`
          val scan = all.zip(keys).takeWhile(_._2.forall(_ <= to))
            .collect { case (l, k) if k.forall(_ > from) => l }
          assert(got === scan, s"seed $s range ($from, $to]")
        }
        val window = all.indices.filter { i =>
          next(i).forall(_ > from) && owner(i).forall(_ <= to)
        }.map(all).toVector
        assert(got === window, s"seed $s range ($from, $to]")
      }
      deleteTree(dir)
    }
  }

  test("linesContaining finds the marker lines a line-by-line filter finds") {
    println(s"SortedSeekSpec marker: seed=$seed cases=$cases")
    val marker = "\"__op\":\"ddl\""
    (0 until cases).foreach { c =>
      val s = seed * 1000037L + c
      val file = sample(sortedFile(stringKeys = false, malformed = true,
        ddl = true), s)
      val dir = Files.createTempDirectory("sorted-seek-ddl")
      val f = writeLog(dir, file)
      assert(FileCdcDatabase.linesContaining(f.toString, marker) ===
        readLines(f).filter(_.contains(marker)), s"seed $s")
      deleteTree(dir)
    }
  }

  test("malformed UTF-8 fails the window that holds it, not a probe") {
    val dir = Files.createTempDirectory("sorted-seek-utf8")
    val lines = (0 until 3000).map(i => s"""{"id":$i,"v":"${"x" * 40}"}""")
    val bad = lines(1500).getBytes(StandardCharsets.UTF_8)
    bad(bad.length - 4) = 0xff.toByte // inside the "v" string
    val bytes = lines.take(1500).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8) ++ bad ++
      lines.drop(1501).mkString("\n", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8)
    writeTable(dir, bytes)
    def read(lo: Long, hi: Long) = FileCdcDialect.snapshotLines(
      dir.toString, "t", "id", Some(lo), Some(hi)).toVector
    // bisection probes for both bounds land around line 1500
    assert(read(1490L, 1500L).size === 10)
    assert(read(1501L, 1510L).size === 9)
    intercept[java.nio.charset.CharacterCodingException](read(1495L, 1505L))
    deleteTree(dir)
  }

  private def writeTable(dir: Path, file: Array[Byte]): Path = {
    val t = Files.createDirectories(dir.resolve("t").resolve("snapshot"))
    val f = t.resolve("part-00000.json")
    Files.write(f, file)
    // stats wide enough that file pruning never interferes: the windows
    // under test are the seek's
    Files.writeString(dir.resolve("t").resolve("meta.json"),
      """{"table":"t","db":"graft","pk":"id","schemaDdl":"id BIGINT,v STRING",
        |"rowCount":1,"minPk":-100000,"maxPk":100000,"maxOffset":0,
        |"snapshotFiles":[{"file":"part-00000.json","minPk":-100000,
        |"maxPk":100000}],"regions":[]}""".stripMargin)
    f
  }

  private def writeLog(dir: Path, file: Array[Byte]): Path = {
    val t = Files.createDirectories(dir.resolve("t").resolve("log"))
    val f = t.resolve("part-00000.json")
    Files.write(f, file)
    f
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(Files.delete(_))
    finally s.close()
  }
}

object SortedSeekSpec {
  import com.fasterxml.jackson.databind.ObjectMapper
  private val mapper = new ObjectMapper()

  /** Reference key of a snapshot line: the `id` field as Jackson reads a
    * number or integral text; None for anything else. */
  def snapshotKey(l: String): Option[Long] =
    try Option(mapper.readTree(l)).flatMap(n => Option(n.get("id")))
      .filter(n => n.isNumber || (n.isTextual && n.asText.matches("-?\\d+")))
      .map(_.asLong())
    catch { case _: Exception => None }

  /** Reference key of a log line: an integral `__offset` number. */
  def offsetKey(l: String): Option[Long] =
    try Option(mapper.readTree(l)).flatMap(n => Option(n.get("__offset")))
      .filter(_.canConvertToLong).map(_.asLong())
    catch { case _: Exception => None }

  val bound: Gen[Option[Long]] = Gen.frequency(
    1 -> Gen.const(None), 6 -> Gen.choose(-50L, 2050L).map(Some(_)))

  private val text: Gen[String] = Gen.listOf(Gen.oneOf(
    "a", "z", " ", "é", "ß", "中", "文", "😀", "\\\"id\\\":7", "\\\\", "{",
    "\\\"__offset\\\":3")).map(_.mkString)

  private val terminator: Gen[String] = Gen.frequency(
    6 -> Gen.const("\n"), 2 -> Gen.const("\r\n"), 2 -> Gen.const("\r"))

  /** A sorted JSONL file: ascending keys with duplicates, each line
    * written as a pk row (`id`) or an envelope (`__offset`), with blank,
    * malformed and unkeyed lines mixed in when `malformed` holds. Long
    * enough (often > 64 KiB) that the window search bisects. */
  def sortedFile(stringKeys: Boolean, malformed: Boolean = true,
      ddl: Boolean = false): Gen[Array[Byte]] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, 40), 3 -> Gen.choose(200, 1500))
    start <- Gen.choose(-40L, 40L)
    steps <- Gen.listOfN(n, Gen.frequency(3 -> Gen.const(0L),
      6 -> Gen.const(1L), 1 -> Gen.choose(2L, 9L)))
    texts <- Gen.listOfN(n, text)
    forms <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.const(0), (if (stringKeys) 1 else 0) -> Gen.const(1),
      (if (stringKeys) 1 else 0) -> Gen.const(2),
      (if (malformed) 1 else 0) -> Gen.const(3),
      (if (ddl) 1 else 0) -> Gen.const(4)))
    junk <- Gen.listOfN(n, Gen.oneOf("", "{\"truncated\": [1,", "garbage",
      "{\"v\":\"no key here\"}", "{\"id\":\"x\",\"__offset\":\"x\"}",
      "not json \"__op\":\"ddl\" either"))
    terms <- Gen.listOfN(n, terminator)
    finalNewline <- Gen.oneOf(true, false)
    pad <- Gen.choose(0, 60)
  } yield {
    val keys = steps.scanLeft(start)(_ + _).tail
    val sb = new StringBuilder
    keys.indices.foreach { i =>
      val k = keys(i)
      val t = texts(i) + ("x" * pad)
      val field = if (stringKeys) "id" else "__offset"
      val line = forms(i) match {
        case 0 => s"""{"$field":$k,"v":"$t"}"""
        case 1 => s"""{"$field":"$k","v":"$t"}"""
        case 2 => s"""{"v":"$t","$field":$k.0}"""
        case 3 => junk(i)
        case _ => s"""{"__offset":$k,"__op":"ddl","ddl":"$t"}"""
      }
      sb ++= line
      if (i < keys.size - 1 || finalNewline) sb ++= terms(i)
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}
