package graft.cdc.source

import graft.SparkSpecBase
import graft.cdc.{ChangeRecord, FileCdcDatabase, Utf8Line}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.util.Try

/** Differential property test: the single-pass byte decoder of
  * [[JsonRowCodec]] against the Jackson tree decode it must agree with —
  * same value, or the same exception — for row lines and change-envelope
  * lines over the full type set, under adversarial mutations: multi-byte
  * UTF-8 in values and keys, `\uXXXX` surrogate pairs and other escapes,
  * shapes the scanner declines, and bytes that are not well-formed UTF-8.
  * A line the single-pass decoder accepts must decode to exactly the
  * tree's value. Lines are decoded as slices in the middle of a larger
  * buffer, as the file reader hands them out.
  *
  * Seeds are printed; set GRAFT_PROP_SEED to replay or explore another
  * one, GRAFT_PROP_CASES to change the number of lines per seed. */
class SinglePassDecodeSpec extends SparkSpecBase {
  import SinglePassDecodeSpec._

  private val seed: Long =
    sys.env.get("GRAFT_PROP_SEED").map(_.toLong).getOrElse(20261017L)
  private val cases: Int =
    sys.env.get("GRAFT_PROP_CASES").map(_.toInt).getOrElse(3000)

  /** Lines generated from `gen`, one scalacheck seed per line. */
  private def lines(gen: Gen[String], salt: Long): Seq[(Long, String)] =
    (0 until cases).map { k =>
      val s = seed * 1000003L + salt * 7919L + k
      s -> gen.pureApply(Gen.Parameters.default, Seed(s))
    }

  /** `line`'s UTF-8 bytes as a slice of a larger buffer whose bytes
    * around it would change the result if a scan ran past its ends. */
  private def sliced(bytes: Array[Byte]): Utf8Line = {
    val before = "{\"id\":1,\"c_str\":\"".getBytes("UTF-8")
    val after = "\"}\n{\"id\":2}".getBytes("UTF-8")
    new Utf8Line(before ++ bytes ++ after, before.length,
      before.length + bytes.length)
  }
  private def sliced(line: String): Utf8Line = sliced(line.getBytes("UTF-8"))

  /** Value or exception, rendered so that any difference shows. */
  private def outcome[A](t: Try[A])(render: A => String): String =
    t.fold(e => s"throws ${e.getClass.getName}: ${e.getMessage}", render)

  test("single-pass row decode equals the tree decode, value or exception") {
    println(s"SinglePassDecodeSpec rows: seed=$seed cases=$cases")
    val codec = new JsonRowCodec(schema, "Asia/Shanghai")
    var accepted = 0
    lines(rowLine, 1).foreach { case (s, line) =>
      val bytes = sliced(line)
      val tree = Try(codec.decodeTree(bytes))
      val fast = codec.decodeSinglePass(bytes)
      if (fast != null) {
        accepted += 1
        assert(tree.isSuccess && canon(fast, schema) == canon(tree.get, schema),
          s"seed $s: single-pass ${canon(fast, schema)} vs tree " +
            s"${outcome(tree)(canon(_, schema))} on line: $line")
      }
      assert(outcome(Try(codec.decode(bytes)))(canon(_, schema)) ===
        outcome(tree)(canon(_, schema)), s"seed $s line: $line")
      // the String entry points decode the string's UTF-8 encoding
      assert(outcome(Try(codec.decode(line)))(canon(_, schema)) ===
        outcome(tree)(canon(_, schema)), s"seed $s line: $line")
    }
    println(s"SinglePassDecodeSpec rows: accepted $accepted of $cases")
    // both paths must be exercised for the comparison to mean anything
    assert(accepted > cases / 4 && accepted < cases)
  }

  test("single-pass envelope decode equals the tree decode, value or exception") {
    println(s"SinglePassDecodeSpec envelopes: seed=$seed cases=$cases")
    val dir = tmpDir("single-pass-env")
    val one = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row.fromSeq(1L +: Seq.fill(schema.size - 1)(null)))), schema)
    val none = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row]),
      ChangeRecord.envelopeSchema(schema))
    FileCdcDatabase.write(spark, dir, "ft", "graft", "id", one, none,
      force = true)
    val dec = new EnvelopeDecoder("file", dir, "ft", "",
      serverTimeZone = "Asia/Shanghai")
    assert(dec.decodeSchema === schema)
    def render(e: dec.Env): String =
      s"${e.offset}|${e.op}|${e.ts}|${canon(e.before, schema)}|" +
        canon(e.after, schema)
    var accepted = 0
    lines(envelopeLine, 2).foreach { case (s, line) =>
      val bytes = sliced(line)
      if (dec.scan.tryEnvelope(bytes)) accepted += 1
      val tree = outcome(Try(dec.decodeEnvelopeTree(bytes)))(render)
      assert(outcome(Try(dec.decodeEnvelope(bytes)))(render) === tree,
        s"seed $s line: $line")
      assert(outcome(Try(dec.decodeEnvelope(Utf8Line(line))))(render) === tree,
        s"seed $s line: $line")
    }
    println(s"SinglePassDecodeSpec envelopes: accepted $accepted of $cases")
    assert(accepted > cases / 4 && accepted < cases)
  }

  test("bytes that are not well-formed UTF-8: byte decode equals the tree decode") {
    println(s"SinglePassDecodeSpec malformed UTF-8: seed=$seed cases=$cases")
    val codec = new JsonRowCodec(schema, "Asia/Shanghai")
    val strict = java.nio.charset.StandardCharsets.UTF_8
    var malformed = 0
    lines(damagedLine, 3).foreach { case (s, line) =>
      val bytes = line.getBytes("ISO-8859-1") // one char per byte
      val wellFormed = scala.util.Try(strict.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(bytes))).isSuccess
      assert(Utf8Line.isWellFormed(bytes, 0, bytes.length) === wellFormed,
        s"seed $s bytes: ${bytes.map("%02x".format(_)).mkString(" ")}")
      val l = sliced(bytes)
      val tree = Try(codec.decodeTree(l))
      val fast = codec.decodeSinglePass(l)
      if (!wellFormed) {
        malformed += 1
        assert(fast == null, s"seed $s: accepted malformed bytes")
        assert(tree.failed.toOption.exists(
          _.isInstanceOf[java.nio.charset.CharacterCodingException]), s"seed $s")
      } else if (fast != null)
        assert(tree.isSuccess && canon(fast, schema) == canon(tree.get, schema),
          s"seed $s")
      assert(outcome(Try(codec.decode(l)))(canon(_, schema)) ===
        outcome(tree)(canon(_, schema)), s"seed $s")
    }
    println(s"SinglePassDecodeSpec malformed UTF-8: $malformed of $cases malformed")
    assert(malformed > cases / 4 && malformed < cases)
  }
}

object SinglePassDecodeSpec {
  private val nested = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType)))

  /** FullTypesSpec's type set, plus TIMESTAMP_NTZ, an array of structs
    * and a custom-converter-tagged column. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("c_bool", BooleanType),
    StructField("c_byte", ByteType),
    StructField("c_short", ShortType),
    StructField("c_int", IntegerType),
    StructField("c_long", LongType),
    StructField("c_float", FloatType),
    StructField("c_double", DoubleType),
    StructField("c_dec", DecimalType(12, 3)),
    StructField("c_str", StringType),
    StructField("c_bin", BinaryType),
    StructField("c_date", DateType),
    StructField("c_ts", TimestampType),
    StructField("c_ntz", TimestampNTZType),
    StructField("c_arr", ArrayType(IntegerType)),
    StructField("c_map", MapType(StringType, LongType)),
    StructField("c_row", nested),
    StructField("c_rows", ArrayType(nested)),
    // a key whose UTF-8 bytes are not ASCII
    StructField("c_\u00e9\u4e2d", StringType),
    StructField("c_year", IntegerType, nullable = true,
      new MetadataBuilder().putString("comment", "graft.type=year").build())))

  /** Deep rendering that tells apart every difference a test could care
    * about: runtime classes, -0.0 from 0.0, decimal precision and scale. */
  def canon(v: Any, dt: DataType): String = if (v == null) "null" else dt match {
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      st.fields.indices.map { i =>
        canon(if (r.isNullAt(i)) null else r.get(i, st(i).dataType),
          st(i).dataType)
      }.mkString(s"{${r.numFields}:", ",", "}")
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map { i =>
        canon(if (a.isNullAt(i)) null else a.get(i, et), et)
      }.mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      canon(m.keyArray(), ArrayType(kt)) + "->" +
        canon(m.valueArray(), ArrayType(vt))
    case BinaryType => v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString
    case FloatType =>
      "f" + java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float])
    case DoubleType =>
      "d" + java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])
    case _: DecimalType =>
      val d = v.asInstanceOf[Decimal]
      s"${d.toJavaBigDecimal}/${d.precision}/${d.scale}"
    case _ => s"${v.getClass.getSimpleName}:$v"
  }

  // ---- generators -------------------------------------------------------
  // Half the lines are clean: valid JSON of the right types (escapes,
  // non-ASCII text, whitespace, unknown keys and all), which the
  // single-pass decoder should mostly accept. The other half are hostile:
  // edge values, wrong types and damaged lines.

  private def oneOf(xs: String*): Gen[String] = Gen.oneOf(xs)

  /** Up to `max` values of `g`. */
  private def few[T](g: Gen[T], max: Int): Gen[List[T]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, g))

  /** `good` alone on clean lines; now and then `edge` on hostile ones. */
  private def mix(hostile: Boolean, good: Gen[String],
      edge: Gen[String]): Gen[String] =
    if (hostile) Gen.frequency(12 -> good, 1 -> edge) else good

  private val ints = Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString)
  private val longs = Gen.oneOf(Gen.choose(-1000L, 1000L),
    Gen.choose(Long.MinValue, Long.MaxValue)).map(_.toString)
  private val doubles = Gen.oneOf(
    Gen.choose(-1e6, 1e6).map(_.toString),
    Gen.choose(-1e6, 1e6).map(java.math.BigDecimal.valueOf(_).toPlainString),
    Gen.choose(-1e300, 1e300).map(_.toString))
  private val intEdges = oneOf("0", "-0", "127", "128", "-129", "32768",
    "2147483647", "2147483648", "-2147483648", "-2147483649",
    "9223372036854775807", "-9223372036854775808", "9223372036854775808",
    "-9223372036854775809", "123456789012345678901234567890")
  private val floatEdges = oneOf("-0", "0.0", "-0.0", "0.1", "1.5", "2.5E-3",
    "1e3", "1E+2", "-1e-7", "1e308", "1e309", "-1e400", "4.9e-324",
    "3.4028235e38", "123.125", "0.0001", "99999999999.9999")
  private val badNumbers = oneOf("007", "-01", "00", "1.", ".5", "-", "+1",
    "1e", "1e+", "NaN", "-Infinity", "0x10", "1_000", "\u0663")
  private val numbers = Gen.oneOf(longs, doubles, intEdges, floatEdges,
    badNumbers)

  /** Text with everything an escape or encoding path can trip on. */
  private val rawText: Gen[String] = few(Gen.frequency(
    20 -> Gen.alphaNumChar.map(_.toString),
    2 -> oneOf(" ", "\"", "\\", "/", ":", ",", "{", "}", "[", "]"),
    1 -> oneOf("\n", "\t", "\u0000", "\u001f", "\u007f"),
    2 -> oneOf("\u00e9", "\u00df", "\u4e2d", "\u2028", "\ufeff"),
    1 -> oneOf("\ud83d", "\ude00"),
    // a whole surrogate pair: raw, a 4-byte UTF-8 character; escaped, a
    // \uXXXX pair (or half of one, when only one char gets escaped)
    1 -> Gen.const("\ud83d\ude00")), 16).map(_.mkString)

  /** A JSON string literal of `raw`, each character escaped in a random
    * valid style; hostile lines sometimes carry a raw control character
    * or an invalid escape. */
  private def quoted(raw: String, hostile: Boolean): Gen[String] =
    Gen.listOfN(raw.length, Gen.choose(0, 9)).flatMap { styles =>
      val body = raw.zip(styles).map { case (c, st) =>
        if (c == '"' || c == '\\') {
          if (st == 0) "\\u%04x".format(c.toInt) else "\\" + c
        } else if (c < 0x20) {
          if (st == 0 && hostile) c.toString // raw: invalid JSON
          else if (st < 4) "\\u%04X".format(c.toInt)
          else c match {
            case '\n' => "\\n"; case '\t' => "\\t"
            case _ => "\\u%04x".format(c.toInt)
          }
        } else if (st == 0) "\\u%04x".format(c.toInt)
        else if (st == 1 && c == '/') "\\/"
        else c.toString
      }.mkString
      mix(hostile, Gen.const(body),
        oneOf(body + "\\x", body + "\\u12", body + "\\"))
    }.map("\"" + _ + "\"")

  private def strings(hostile: Boolean): Gen[String] =
    rawText.flatMap(quoted(_, hostile))

  private def stringOf(g: Gen[String]): Gen[String] = g.map("\"" + _ + "\"")

  private def dates(hostile: Boolean) = stringOf(mix(hostile,
    Gen.choose(-5000L, 30000L).map(java.time.LocalDate.ofEpochDay(_).toString),
    oneOf("2024-02-30", "2024-13-01", "x")))

  private val wallClock: Gen[String] = for {
    sec <- Gen.choose(-2000000000L, 4000000000L)
    nano <- Gen.oneOf(0, 500000000, 123456000, 1)
  } yield java.time.LocalDateTime.ofEpochSecond(sec, nano,
    java.time.ZoneOffset.UTC).toString

  private def timestamps(zoned: Boolean, hostile: Boolean) = stringOf(mix(
    hostile,
    if (zoned) Gen.oneOf(wallClock, wallClock.map(_ + "Z"),
      wallClock.map(_ + "+02:00"))
    else wallClock,
    oneOf("2024-01-15 12:00:00", "2024-01-15T12:00:00Z", "garbage")))

  private def binaries(hostile: Boolean) = stringOf(mix(hostile,
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(b => java.util.Base64.getEncoder.encodeToString(b.toArray)),
    oneOf("!!", "YQ", "YQ==")))

  private val literals = oneOf("true", "false", "null")

  /** Any JSON value: the values of unknown keys, and wrong-type values. */
  private def anyValue(depth: Int, hostile: Boolean): Gen[String] = {
    val scalar = Gen.oneOf(if (hostile) numbers else Gen.oneOf(longs, doubles),
      strings(hostile), literals)
    if (depth <= 0) scalar
    else Gen.frequency(
      10 -> scalar,
      1 -> few(anyValue(depth - 1, hostile), 3).map(_.mkString("[", ",", "]")),
      1 -> few(Gen.zip(strings(hostile), anyValue(depth - 1, hostile))
        .map { case (k, v) => s"$k:$v" }, 3).map(_.mkString("{", ",", "}")))
  }

  private def valueFor(dt: DataType, depth: Int, hostile: Boolean)
      : Gen[String] = {
    val typed: Gen[String] = dt match {
      case BooleanType => oneOf("true", "false")
      case ByteType | ShortType | IntegerType =>
        mix(hostile, ints, Gen.oneOf(intEdges, badNumbers))
      case LongType => mix(hostile, longs, Gen.oneOf(intEdges, badNumbers))
      case FloatType | DoubleType => mix(hostile, Gen.oneOf(doubles, longs),
        Gen.oneOf(floatEdges, badNumbers))
      case _: DecimalType => mix(hostile,
        Gen.oneOf(Gen.choose(-1e6, 1e6).map(_.toString),
          Gen.choose(-100000L, 100000L).map(_.toString),
          Gen.choose(-1e6, 1e6).map("\"" + _ + "\"")),
        Gen.oneOf(intEdges, floatEdges, badNumbers))
      case StringType => strings(hostile)
      case BinaryType => binaries(hostile)
      case DateType => dates(hostile)
      case TimestampType => timestamps(zoned = true, hostile)
      case TimestampNTZType => timestamps(zoned = false, hostile)
      case st: StructType => objectOf(st, depth - 1, hostile)
      case ArrayType(et, _) =>
        few(valueFor(et, depth - 1, hostile), 4).map(_.mkString("[", ",", "]"))
      case MapType(_, vt, _) =>
        few(Gen.zip(strings(hostile), valueFor(vt, depth - 1, hostile))
          .map { case (k, v) => s"$k:$v" }, 3).map(_.mkString("{", ",", "}"))
      case _ => anyValue(1, hostile)
    }
    if (hostile) Gen.frequency(40 -> typed, 3 -> Gen.const("null"),
      1 -> anyValue(if (depth > 0) 1 else 0, hostile))
    else Gen.frequency(10 -> typed, 1 -> Gen.const("null"))
  }

  /** An object over `st`'s fields: fields dropped, shuffled, repeated
    * (the tree keeps the last value), or joined by unknown keys. */
  private def objectOf(st: StructType, depth: Int, hostile: Boolean)
      : Gen[String] = for {
    vals <- Gen.sequence[List[String], String](st.fields.toList.map { f =>
      // MAP and tagged columns decline unless null: keep them null on
      // clean lines, mostly null on hostile ones
      if (f.dataType.isInstanceOf[MapType] || f.metadata.contains("comment"))
        mix(hostile, Gen.const("null"), valueFor(f.dataType, depth, hostile))
      else valueFor(f.dataType, depth, hostile)
    })
    keep <- Gen.listOfN(st.size, Gen.frequency(12 -> true, 1 -> false))
    extra <- Gen.frequency(6 -> Gen.const(Nil),
      1 -> few(Gen.zip(Gen.oneOf(Gen.const("\"zz\""), strings(hostile)),
        anyValue(2, hostile)).map { case (k, v) => s"$k:$v" }, 2))
    dup <- Gen.frequency(20 -> Gen.const(None),
      1 -> Gen.choose(0, st.size - 1).flatMap(i =>
        valueFor(st(i).dataType, depth, hostile).map(v => Some((i, v)))))
    shuffle <- Gen.frequency(8 -> false, 1 -> true)
    rnd <- Gen.long
  } yield {
    var fields = st.fields.toList.zip(vals).zip(keep).collect {
      case ((f, v), true) => s""""${f.name}":$v"""
    } ++ extra
    dup.foreach { case (i, v) => fields :+= s""""${st(i).name}":$v""" }
    if (shuffle) fields = new scala.util.Random(rnd).shuffle(fields)
    fields.mkString("{", ",", "}")
  }

  private val whitespace: Gen[String] = oneOf(" ", "\t", "\n", "\r\n")

  /** Whitespace between tokens on any line; on hostile lines also other
    * whitespace-like characters, trailing content, truncation, a replaced
    * character, and lines that are not objects. */
  private def mutate(line: String, hostile: Boolean): Gen[String] = {
    val spaced = Gen.listOfN(line.length, Gen.frequency(10 -> Gen.const(""),
      1 -> (if (hostile) Gen.oneOf(whitespace, oneOf("\f", "\u00a0"))
      else whitespace))).map(ws => line.zip(ws).map { case (c, w) =>
        if (",:{}[]".indexOf(c) >= 0) w + c + w else c.toString
      }.mkString)
    if (!hostile) Gen.frequency(3 -> Gen.const(line), 1 -> spaced)
    else Gen.frequency(
      20 -> Gen.const(line), 3 -> spaced,
      1 -> oneOf(" x", "}", " {}", ",", " ", "\n", "\u0000").map(line + _),
      1 -> Gen.choose(0, line.length).map(line.take),
      1 -> Gen.zip(Gen.choose(0, math.max(0, line.length - 1)),
        Gen.oneOf('"', '\\', '}', ':', 'x', '0', '\u0001'))
        .map { case (i, c) => line.patch(i, c.toString, 1) },
      1 -> oneOf("", " ", "[1]", "\"s\"", "42", "null", "{", "{}", "[]",
        "\ufeff{}"))
  }

  val rowLine: Gen[String] = Gen.oneOf(false, true).flatMap { hostile =>
    objectOf(schema, 3, hostile).flatMap(mutate(_, hostile))
  }

  /** Byte sequences to splice into a line: malformed ones (a stray
    * continuation byte, overlong forms, truncated sequences, an encoded
    * surrogate, a code point past U+10FFFF, bytes UTF-8 never uses) and
    * well-formed multi-byte characters. */
  private val damages = Seq(Array(0x80), Array(0xc0, 0xaf), Array(0xc3),
    Array(0xe2, 0x82), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
    Array(0xff), Array(0xe0, 0x80, 0xaf), Array(0xf0, 0x80, 0x80, 0xaf),
    Array(0xf8, 0x88, 0x80, 0x80, 0x80), Array(0xc3, 0xa9),
    Array(0xe4, 0xb8, 0xad), Array(0xf0, 0x9f, 0x98, 0x80))
    .map(d => new String(d.map(_.toByte), "ISO-8859-1"))

  /** A row line's UTF-8 bytes, one char per byte (ISO-8859-1), with up to
    * three [[damages]] spliced in — mostly just inside a string. */
  val damagedLine: Gen[String] = for {
    line <- rowLine
    n <- Gen.choose(0, 3)
    cuts <- Gen.listOfN(n, Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(damages)))
  } yield cuts.foldLeft(new String(line.getBytes("UTF-8"), "ISO-8859-1")) {
    case (b, (at, d)) =>
      val quotes = b.indices.filter(b(_) == '"')
      val pos =
        if (quotes.nonEmpty && at < 0.8)
          quotes(math.min(quotes.size - 1, (at / 0.8 * quotes.size).toInt)) + 1
        else (at * b.length).toInt
      b.patch(pos, d, 0)
  }

  val envelopeLine: Gen[String] = Gen.oneOf(false, true).flatMap { hostile =>
    val image = mix(hostile,
      Gen.frequency(8 -> objectOf(schema, 3, hostile), 1 -> Gen.const("null")),
      anyValue(1, hostile))
    for {
      off <- mix(hostile, Gen.choose(1L, 1L << 40).map(_.toString),
        Gen.oneOf(numbers, oneOf("\"5\"", "null", "{}", "true")))
      op <- mix(hostile, oneOf("\"c\"", "\"u\"", "\"d\"", "\"r\"",
        "\"t\"", "\"ddl\""), Gen.oneOf(strings(hostile), numbers, literals))
      ts <- mix(hostile, Gen.choose(0L, 1L << 40).map(_.toString),
        Gen.oneOf(numbers, literals))
      before <- image
      after <- image
      keep <- Gen.listOfN(7, Gen.frequency(15 -> true, 1 -> false))
      line <- {
        val fields = Seq(s""""__offset":$off""", s""""__op":$op""",
          s""""__ts_ms":$ts""", "\"__db\":\"graft\"", "\"__table\":\"ft\"",
          s""""before":$before""", s""""after":$after""")
        // clean lines may drop only the images and the table metadata
        mutate(fields.zip(keep).zipWithIndex.collect {
          case ((f, k), i) if k || (!hostile && i < 3) => f
        }.mkString("{", ",", "}"), hostile)
      }
    } yield line
  }
}
