package graft.cdc.source

import com.fasterxml.jackson.core.StreamReadConstraints
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.cdc.Utf8Line
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneId, ZoneOffset}
import scala.util.control.NonFatal

/**
 * Executor-side JSON → InternalRow decoder, driven by a StructType.
 *
 * This is the engine's analogue of the reference's per-type
 * deserialization-converter stack (RowDataDebeziumDeserializeSchema.java:
 * 243-657): null-safe per-field converters over the §1.3 type set —
 * primitives, DECIMAL, DATE, TIME-less temporals, STRING, BINARY, and nested
 * ROW (plus ARRAY/MAP, which the reference only supports in its MongoDB BSON
 * converter, MongoDBConnectorDeserializationSchema.java:220-272).
 *
 * The encode side is Spark's own `df.write.json` (fixture writer), so the
 * wire format is Spark-JSON: ISO-8601 temporals, base64 binary.
 *
 * Input is a line's UTF-8 bytes ([[Utf8Line]]); a String entry point
 * decodes the string's UTF-8 encoding. Decode contract: [[decode]] first
 * runs a single-pass decoder that scans the bytes straight into a
 * `GenericInternalRow` through a field-slot table compiled once per
 * StructType (no Jackson tree, no String per line): keys are matched
 * against the schema's pre-encoded UTF-8 names, a STRING value without
 * escapes becomes a `UTF8String` of its bytes, and numbers are read from
 * the bytes. It declines every line where it cannot prove it agrees with
 * the Jackson tree decode ([[decodeTree]]): escapes other than the JSON
 * ones it undoes, floats or exponents in integral columns, leading zeros,
 * integers past the column's range, values of a type the column's tree
 * converter would coerce (a number in a STRING column, a string in a
 * numeric one), MAP and custom-converter columns holding a non-null value,
 * non-object lines, trailing content, bytes that are not well-formed UTF-8
 * and any token Jackson would reject. Fields the schema does not name are
 * skipped by a validating scan, which declines whatever syntax it does not
 * certify; a repeated field keeps its last value, as in the tree. A
 * declined line, and any line whose conversion throws, is decoded by the
 * tree path — Jackson over the line's strict UTF-8 text, so malformed
 * bytes throw a `CharacterCodingException` — and values, nulls, exceptions
 * and parse-error-policy outcomes are those of the tree decode.
 *
 * The source's readers decode through a [[JsonRowCodec.LineScanner]] bound
 * to a [[JsonRowCodec.Layout]]: a row comes back in the reader's output
 * layout, and its primary and chunk key as longs.
 */
class JsonRowCodec(schema: StructType, serverTimeZone: String = "UTC")
    extends Serializable {

  @transient private lazy val mapper = new ObjectMapper()

  /** Zone that zoneless TIMESTAMP wire strings are interpreted in — the
    * reference's `server-time-zone` shift (RowDataDebeziumDeserializeSchema
    * .java:469-530: MySQL TIMESTAMP values reach the converter as wall-clock
    * strings in the SERVER's zone and must be shifted to epoch). */
  @transient private lazy val serverZoneId = ZoneId.of(serverTimeZone)

  /** Per-struct custom-converter slots (U2 hook): for every StructType
    * reachable from `schema` with at least one `graft.type`-tagged field,
    * the field-indexed converter array (null = default dispatch). Built
    * once per codec and read-only after (thread-safe reads); lookup is by
    * StructType VALUE (deep equals/hashCode), so structurally-equal schema
    * instances — e.g. one re-parsed from DDL — hit the same slots. The
    * map is empty when nothing is tagged, making the per-row cost one
    * failed probe. Unknown tags fail HERE (first use), not per line. */
  @transient private lazy val customSlots
      : java.util.HashMap[StructType, Array[JsonNode => Any]] = {
    val m = new java.util.HashMap[StructType, Array[JsonNode => Any]]()
    def walk(st: StructType): Unit = if (!m.containsKey(st)) {
      val arr = st.fields.map(f => CustomConverters.converterFor(f).orNull)
      if (arr.exists(_ != null)) m.put(st, arr)
      st.fields.foreach { f =>
        f.dataType match {
          case s: StructType => walk(s)
          case ArrayType(s: StructType, _) => walk(s)
          case MapType(_, s: StructType, _) => walk(s)
          case _ => ()
        }
      }
    }
    walk(schema)
    m
  }
  // force tag validation at construction (and after executor-side
  // deserialization, on first use) — an unknown tag must be a loud
  // configuration error, never a per-line parse-policy skip
  customSlots

  /** The single-pass field-slot table of the row schema. */
  @transient private lazy val rowSlots: JsonRowCodec.Slots =
    JsonRowCodec.Slots.compile(schema, customSlots)

  def decode(line: Utf8Line): InternalRow = {
    val row = decodeSinglePass(line)
    if (row != null) row else decodeTree(line)
  }

  def decode(line: String): InternalRow = decode(Utf8Line(line))

  /** The Jackson tree decode: the path for every line the single-pass
    * decoder declines, and the reference tests compare it against. */
  def decodeTree(line: Utf8Line): InternalRow =
    convertStruct(parse(line), schema)

  /** Single-pass decode of one row line; null = declined. */
  private[source] def decodeSinglePass(line: Utf8Line): InternalRow = {
    val sc = new JsonRowCodec.LineScanner(rowSlots, serverZoneId,
      shareBytes = false)
    sc.tryRow(line)
  }

  /** A reusable single-pass scanner (one per reader thread) whose rows
    * land in `layout` and whose change envelopes carry images of this
    * codec's schema. `shareBytes`: a STRING value without escapes is a
    * view of the line's bytes rather than a copy — for rows emitted before
    * their line's buffer could be let go, never for rows kept longer. */
  private[source] def scanner(layout: JsonRowCodec.Layout,
      shareBytes: Boolean = false): JsonRowCodec.LineScanner =
    new JsonRowCodec.LineScanner(
      JsonRowCodec.Slots.compile(schema, customSlots, layout), serverZoneId,
      shareBytes)

  /** The line's Jackson tree, parsed from its strict UTF-8 text. */
  def parse(line: Utf8Line): JsonNode = mapper.readTree(line.strictString)

  def convertStruct(node: JsonNode, st: StructType): InternalRow = {
    if (node == null || node.isNull) return null
    // isEmpty guard: HashMap.get hashes the key even on an empty map, and
    // StructType.hashCode is O(fields) — untagged tables skip it entirely
    val custom = if (customSlots.isEmpty) null else customSlots.get(st)
    val row = new GenericInternalRow(st.size)
    var i = 0
    while (i < st.size) {
      val f = st(i)
      val v = node.get(f.name)
      val conv = if (custom == null) null else custom(i)
      row.update(i,
        if (conv != null && v != null && !v.isNull) conv(v)
        else convert(v, f.dataType))
      i += 1
    }
    row
  }

  def convert(node: JsonNode, dt: DataType): Any = {
    if (node == null || node.isNull) return null
    dt match {
      case BooleanType => node.asBoolean()
      case ByteType => node.asInt().toByte
      case ShortType => node.asInt().toShort
      case IntegerType => node.asInt()
      case LongType => node.asLong()
      case FloatType => node.asDouble().toFloat
      case DoubleType => node.asDouble()
      case StringType => UTF8String.fromString(
        if (node.isTextual) node.asText() else node.toString)
      case d: DecimalType => JsonRowCodec.toDecimal(node.asText(), d)
      case BinaryType =>
        java.util.Base64.getDecoder.decode(node.asText())
      case DateType => JsonRowCodec.parseDate(node.asText())
      case TimestampType =>
        JsonRowCodec.parseTimestampMicros(node.asText(), serverZoneId)
      case TimestampNTZType => JsonRowCodec.parseNtzMicros(node.asText())
      case st: StructType => convertStruct(node, st)
      case ArrayType(et, _) =>
        val n = node.size()
        val arr = new Array[Any](n)
        var i = 0
        while (i < n) { arr(i) = convert(node.get(i), et); i += 1 }
        new GenericArrayData(arr)
      case MapType(StringType, vt, _) =>
        val keys = scala.collection.mutable.ArrayBuffer[Any]()
        val vals = scala.collection.mutable.ArrayBuffer[Any]()
        node.properties().forEach { e =>
          keys += UTF8String.fromString(e.getKey)
          vals += convert(e.getValue, vt)
        }
        ArrayBasedMapData(keys.toArray, vals.toArray)
      case other =>
        throw new UnsupportedOperationException(
          s"JsonRowCodec: unsupported type $other")
    }
  }
}

object JsonRowCodec {
  /** Parse Spark-JSON timestamps to epoch micros. Strings carrying an
    * explicit offset ("2024-01-01T00:09:58.778Z", "+02:00") are absolute;
    * ZONELESS wall-clock strings are interpreted in `zone` — the
    * reference's server-time-zone semantics (MySqlSourceOptions
    * `server-time-zone`; RowDataDebeziumDeserializeSchema.java:469-530). */
  def parseTimestampMicros(s: String,
      zone: ZoneId = ZoneOffset.UTC): Long = {
    val inst: Instant =
      try OffsetDateTime.parse(s).toInstant
      catch {
        case _: Exception =>
          LocalDateTime.parse(s, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
            .atZone(zone).toInstant
      }
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  // Conversions shared by the tree and single-pass decoders, so both apply
  // the same parse to the same text.
  private def parseDate(s: String): Int = LocalDate.parse(s).toEpochDay.toInt

  private def parseNtzMicros(s: String): Long = {
    val ldt = LocalDateTime.parse(s, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }

  private def toDecimal(s: String, d: DecimalType): Decimal =
    Decimal(new java.math.BigDecimal(s), d.precision, d.scale)

  /** Where a scanned row's fields go: schema field `i` to slot `pos(i)` of
    * a row `width` wide (-1 = read and checked, not kept), and the two
    * fields whose values also come back as longs — the primary key and the
    * chunk key (one field may be both). */
  final class Layout(val width: Int, val pos: Array[Int], val pkField: Int,
      val ckField: Int)

  // Value kinds of the single-pass decoder.
  private final val KBool = 0; private final val KByte = 1
  private final val KShort = 2; private final val KInt = 3
  private final val KLong = 4; private final val KFloat = 5
  private final val KDouble = 6; private final val KDecimal = 7
  private final val KString = 8; private final val KBinary = 9
  private final val KDate = 10; private final val KTimestamp = 11
  private final val KTimestampNtz = 12; private final val KStruct = 13
  private final val KArray = 14
  /** Only `null` is decoded; any other value declines the line (MAP and
    * custom-converter columns, types the tree decode does not support). */
  private final val KNullOnly = 16

  /** How one value is decoded: its kind, plus the slot table of a struct
    * or the element conversion of an array. */
  private final class Conv(val kind: Int, val dataType: DataType,
      val fields: Slots, val elem: Conv)

  /** Field names matched on their UTF-8 bytes. */
  private class FieldNames(val names: Array[String]) {
    val size: Int = names.length
    val utf8: Array[Array[Byte]] = names.map(_.getBytes(StandardCharsets.UTF_8))
    /** Name k is written as its own bytes in a key — no quote, backslash
      * or control byte — and within the name length bound. */
    private val plain = utf8.map(b => b.length <= MaxNameLength &&
      b.forall(c => c != '"' && c != '\\' && (c < 0 || c >= 0x20)))

    /** Whether `b[start, n)` opens with name k's bytes and the quote
      * closing the key. */
    def keyAt(k: Int, b: Array[Byte], start: Int, n: Int): Boolean = {
      val name = utf8(k)
      val len = name.length
      plain(k) && start + len < n && b(start + len) == '"' &&
        matches(name, b, start)
    }

    /** Slot of the key `b[start, start + len)`, trying `expect` (the slot
      * after the previous key: Spark writes fields in schema order) first;
      * -1 = not a field. */
    def indexOf(b: Array[Byte], start: Int, len: Int, expect: Int): Int = {
      if (expect < size && utf8(expect).length == len &&
          matches(utf8(expect), b, start)) return expect
      var k = 0
      while (k < size) {
        if (k != expect && utf8(k).length == len && matches(utf8(k), b, start))
          return k
        k += 1
      }
      -1
    }

    /** `b` holds `name` at `start` (the caller checked the bounds). */
    private def matches(name: Array[Byte], b: Array[Byte], start: Int): Boolean = {
      var j = 0
      while (j < name.length && b(start + j) == name(j)) j += 1
      j == name.length
    }

    /** Slot of an unescaped key; -1 = not a field. */
    def indexOf(name: String): Int = names.indexOf(name)
  }

  /** The compiled field-slot table of one StructType: where each field
    * lands in the row (`pos`, `width`) and which fields are keys. */
  private final class Slots(names: Array[String], val convs: Array[Conv],
      /** The struct names a field twice; the tree decode reads one JSON
        * value into both slots, so the single-pass decoder declines. */
      val duplicateNames: Boolean, val width: Int, val pos: Array[Int],
      val pkField: Int, val ckField: Int) extends FieldNames(names) {
    /** Key registers a row of this table must fill (1 = pk, 2 = ck). */
    val keyMask: Int =
      (if (pkField >= 0) 1 else 0) | (if (ckField >= 0) 2 else 0)
  }

  private object Slots {
    def compile(st: StructType,
        custom: java.util.HashMap[StructType, Array[JsonNode => Any]],
        layout: Layout = null): Slots = {
      val tagged = if (custom.isEmpty) null else custom.get(st)
      def leaf(kind: Int, dt: DataType) = new Conv(kind, dt, null, null)
      def conv(dt: DataType): Conv = dt match {
        case BooleanType => leaf(KBool, dt)
        case ByteType => leaf(KByte, dt)
        case ShortType => leaf(KShort, dt)
        case IntegerType => leaf(KInt, dt)
        case LongType => leaf(KLong, dt)
        case FloatType => leaf(KFloat, dt)
        case DoubleType => leaf(KDouble, dt)
        case _: DecimalType => leaf(KDecimal, dt)
        case StringType => leaf(KString, dt)
        case BinaryType => leaf(KBinary, dt)
        case DateType => leaf(KDate, dt)
        case TimestampType => leaf(KTimestamp, dt)
        case TimestampNTZType => leaf(KTimestampNtz, dt)
        case s: StructType => new Conv(KStruct, dt, compile(s, custom), null)
        case ArrayType(et, _) => new Conv(KArray, dt, null, conv(et))
        case _ => leaf(KNullOnly, dt)
      }
      val convs = st.fields.indices.map { i =>
        if (tagged != null && tagged(i) != null)
          leaf(KNullOnly, st(i).dataType)
        else conv(st(i).dataType)
      }.toArray
      val dup = st.fieldNames.distinct.length != st.size
      if (layout == null)
        new Slots(st.fieldNames, convs, dup, st.size,
          Array.tabulate(st.size)(identity), -1, -1)
      else new Slots(st.fieldNames, convs, dup, layout.width, layout.pos,
        layout.pkField, layout.ckField)
    }
  }

  /** Thrown (without a stack trace) when the scanner declines a line. */
  private object Declined extends RuntimeException(
    "declined by the single-pass decoder", null, false, false)

  // Bounds well inside Jackson's read constraints, so that no accepted
  // line is one the tree decode would reject for its size. They count
  // bytes, which are never fewer than the characters Jackson counts.
  private val jacksonLimits = StreamReadConstraints.defaults()
  private val MaxLineLength = jacksonLimits.getMaxStringLength
  private val MaxDepth = math.min(64, jacksonLimits.getMaxNestingDepth)
  private val MaxNumberLength = math.min(100, jacksonLimits.getMaxNumberLength)
  private val MaxNameLength = math.min(1000, jacksonLimits.getMaxNameLength)

  /** The envelope fields the scanner reads; every other one (`__db`,
    * `__table`, `ddl`, …) is skipped. */
  private val EnvelopeNames = {
    import graft.cdc.ChangeRecord._
    new FieldNames(Array(OffsetCol, OpCol, TsCol, BeforeCol, AfterCol))
  }

  private def ascii(s: String) = s.getBytes(StandardCharsets.US_ASCII)
  private val Null = ascii("null")
  private val True = ascii("true")
  private val False = ascii("false")
  /** One-character ASCII strings, shared (an envelope's `__op`). */
  private val OneChar = Array.tabulate(128)(c => c.toChar.toString)

  /** One pass over one line's bytes, reusable line after line by one
    * thread. Every method starts at its token's first byte (whitespace
    * already skipped) and leaves `i` just past it; anything unexpected
    * throws [[Declined]]. Under the mapper's default features the tree
    * decode truncates an INT column's integer past Int and ignores
    * trailing content; such lines decline all the same, so agreement does
    * not rest on those defaults.
    *
    * `image` is the slot table of a row line and of an envelope's images.
    * After [[tryRow]], [[pk]] and [[ck]] hold the row's keys; after
    * [[tryEnvelope]], the envelope's fields, with the keys of its after
    * image (its before image when there is none). A row or chosen image
    * without both keys declines, so keys always come from a value the
    * scanner read. */
  private[source] final class LineScanner private[JsonRowCodec] (
      image: Slots, zone: ZoneId, shareBytes: Boolean) {
    private[this] var s: Array[Byte] = Array.emptyByteArray
    private[this] var i = 0
    private[this] var n = 0
    /** Key registers filled while reading a keyed object (1 = pk, 2 = ck). */
    private[this] var keys = 0
    private[this] var keyPk = 0L
    private[this] var keyCk = 0L
    /** The value of the last integral token read. */
    private[this] var lastIntegral = 0L
    /** Whether the last [[plainEnd]] run held a non-ASCII byte. */
    private[this] var runHigh = false

    var pk = 0L
    var ck = 0L
    var offset = 0L
    var op: String = _
    var ts = 0L
    var before: InternalRow = _
    var after: InternalRow = _

    /** The row, or null when declined. */
    def tryRow(line: Utf8Line): InternalRow =
      try {
        open(line)
        val row = readObject(image, 1)
        if ((keys & image.keyMask) != image.keyMask) decline()
        close()
        pk = keyPk; ck = keyCk
        row
      } catch { case NonFatal(_) => null }

    /** Read a change envelope whose images have the row schema: false =
      * declined, which includes a missing or null `__offset`, `__op` or
      * `__ts_ms` (the tree path then decides how such a line fails). */
    def tryEnvelope(line: Utf8Line): Boolean =
      try { readEnvelope(line); true } catch { case NonFatal(_) => false }

    private def decline(): Nothing = throw Declined

    private def open(line: Utf8Line): Unit = {
      s = line.bytes; i = line.start; n = line.end
      keys = 0
      if (n - i > MaxLineLength) decline()
      skipWs()
      if (i >= n || s(i) != '{') decline()
    }

    private def close(): Unit = {
      skipWs()
      if (i != n) decline()
    }

    private def readEnvelope(line: Utf8Line): Unit = {
      open(line)
      i += 1
      before = null; after = null
      var seen = 0 // 1 = offset, 2 = op, 4 = ts
      var beforeKeys = 0; var bPk = 0L; var bCk = 0L
      var afterKeys = 0; var aPk = 0L; var aCk = 0L
      var expect = 0
      var c = nextToken()
      var more = c != '}'
      while (more) {
        if (c != '"') decline()
        val k = readKey(EnvelopeNames, expect)
        if (nextToken() != ':') decline()
        skipWs()
        if (i >= n) decline()
        k match {
          case 0 => offset = readLong(); seen |= 1
          case 1 => op = readString(); seen |= 2
          case 2 => ts = readLong(); seen |= 4
          case 3 =>
            before = readImage()
            beforeKeys = keys; bPk = keyPk; bCk = keyCk
          case 4 =>
            after = readImage()
            afterKeys = keys; aPk = keyPk; aCk = keyCk
          case _ => skipValue(1)
        }
        if (k >= 0) expect = k + 1
        c = nextToken()
        if (c == ',') c = nextToken()
        else if (c == '}') more = false
        else decline()
      }
      close()
      if (seen != 7) decline()
      if (after != null) {
        if (afterKeys != image.keyMask) decline()
        pk = aPk; ck = aCk
      } else if (before != null) {
        if (beforeKeys != image.keyMask) decline()
        pk = bPk; ck = bCk
      } else if (image.keyMask != 0) decline()
    }

    /** An envelope image: null, or an object of the row schema. */
    private def readImage(): InternalRow = {
      keys = 0
      if (s(i) == 'n') { literal(Null); null }
      else if (s(i) != '{') decline()
      else readObject(image, 2)
    }

    private def skipWs(): Unit = {
      val b = s; val e = n
      var j = i
      while (j < e && {
        val c = b(j); c == ' ' || c == '\t' || c == '\n' || c == '\r'
      }) j += 1
      i = j
    }

    /** The next non-whitespace byte, consumed. */
    private def nextToken(): Byte = {
      skipWs()
      if (i >= n) decline()
      val c = s(i); i += 1; c
    }

    private def literal(word: Array[Byte]): Unit = {
      val e = i + word.length
      if (e > n || !java.util.Arrays.equals(s, i, e, word, 0, word.length))
        decline()
      i = e
    }

    private def readObject(t: Slots, depth: Int): InternalRow = {
      if (depth > MaxDepth || t.duplicateNames) decline()
      i += 1
      val row = new GenericInternalRow(t.width)
      var expect = 0
      var c = nextToken()
      if (c == '}') return row
      while (true) {
        if (c != '"') decline()
        val k = readKey(t, expect)
        if (i < n && s(i) == ':') i += 1 // as Spark writes it
        else if (nextToken() != ':') decline()
        skipWs()
        if (k < 0) skipValue(depth)
        else {
          // a repeated field overwrites: the tree keeps the last value too
          val conv = t.convs(k)
          val v = readValue(conv, depth)
          if (k == t.pkField || k == t.ckField) captureKey(t, k, conv, v)
          val p = t.pos(k)
          if (p >= 0) row.update(p, v)
          expect = k + 1
        }
        c = nextToken()
        if (c == '}') return row
        if (c != ',') decline()
        c = nextToken()
      }
      row
    }

    /** Record key field `k`'s value as the long `CdcPlanner.toLongKey`
      * makes of it; a null clears the register. */
    private def captureKey(t: Slots, k: Int, c: Conv, v: Any): Unit = {
      val bits = (if (k == t.pkField) 1 else 0) | (if (k == t.ckField) 2 else 0)
      if (v == null) keys &= ~bits
      else {
        val l = c.kind match {
          case KLong | KInt => lastIntegral
          case KShort => lastIntegral.toShort.toLong
          case KByte => lastIntegral.toByte.toLong
          case KDecimal => v.asInstanceOf[Decimal].toLong
          case _ => decline() // not an integral key: the tree path reports it
        }
        if ((bits & 1) != 0) keyPk = l
        if ((bits & 2) != 0) keyCk = l
        keys |= bits
      }
    }

    /** A field name (opening quote already consumed) → its slot, -1 if the
      * table has none. */
    private def readKey(t: FieldNames, expect: Int): Int = {
      // the expected name, as Spark writes it: its bytes and the quote
      if (expect < t.size && t.keyAt(expect, s, i, n)) {
        i += t.utf8(expect).length + 1
        return expect
      }
      val start = i
      val end = plainEnd()
      if (end < n && s(end) == '"') {
        if (end - start > MaxNameLength) decline()
        if (runHigh && !Utf8Line.isWellFormed(s, start, end)) decline()
        i = end + 1
        t.indexOf(s, start, end - start, expect)
      } else {
        val name = readEscaped(start, end)
        if (name.length > MaxNameLength) decline()
        t.indexOf(name)
      }
    }

    private def readValue(c: Conv, depth: Int): Any = {
      if (i >= n) decline()
      val ch = s(i)
      if (ch == 'n') { literal(Null); return null }
      c.kind match {
        case KBool =>
          if (ch == 't') { literal(True); true }
          else { literal(False); false }
        case KByte => readInt().toByte
        case KShort => readInt().toShort
        case KInt => readInt()
        case KLong => readLong()
        case KFloat => readDouble().toFloat
        case KDouble => readDouble()
        case KDecimal =>
          toDecimal(if (ch == '"') readString() else decimalText(),
            c.dataType.asInstanceOf[DecimalType])
        case KString => readUtf8()
        case KBinary => java.util.Base64.getDecoder.decode(readString())
        case KDate => parseDate(readString())
        case KTimestamp => parseTimestampMicros(readString(), zone)
        case KTimestampNtz => parseNtzMicros(readString())
        case KStruct =>
          if (ch != '{') decline()
          readObject(c.fields, depth + 1)
        case KArray =>
          if (ch != '[') decline()
          readArray(c.elem, depth + 1)
        case _ => decline()
      }
    }

    private def readArray(e: Conv, depth: Int): GenericArrayData = {
      if (depth > MaxDepth) decline()
      i += 1
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      skipWs()
      if (i < n && s(i) == ']') i += 1
      else {
        var more = true
        while (more) {
          out += readValue(e, depth)
          val c = nextToken()
          if (c == ',') skipWs()
          else if (c == ']') more = false
          else decline()
        }
      }
      new GenericArrayData(out.toArray)
    }

    /** Skip one value of a field the schema does not name, checking the
      * JSON syntax on the way. */
    private def skipValue(depth: Int): Unit = {
      if (i >= n) decline()
      s(i).toInt match {
        case '"' => i += 1; skipString()
        case '{' =>
          if (depth >= MaxDepth) decline()
          i += 1
          var c = nextToken()
          if (c != '}') {
            var more = true
            while (more) {
              if (c != '"') decline()
              if (skipString() > MaxNameLength || nextToken() != ':')
                decline()
              skipWs()
              skipValue(depth + 1)
              c = nextToken()
              if (c == ',') c = nextToken()
              else if (c == '}') more = false
              else decline()
            }
          }
        case '[' =>
          if (depth >= MaxDepth) decline()
          i += 1
          skipWs()
          if (i < n && s(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              skipValue(depth + 1)
              val c = nextToken()
              if (c == ',') skipWs()
              else if (c == ']') more = false
              else decline()
            }
          }
        case 't' => literal(True)
        case 'f' => literal(False)
        case 'n' => literal(Null)
        case _ => scanNumber()
      }
    }

    /** Scan a JSON number token by the strict grammar Jackson applies by
      * default; true when it is integral (no fraction, no exponent). */
    private def scanNumber(): Boolean = {
      val start = i
      if (i < n && s(i) == '-') i += 1
      val intStart = i
      skipDigits()
      if (i == intStart || (s(intStart) == '0' && i - intStart > 1)) decline()
      var integral = true
      if (i < n && s(i) == '.') {
        integral = false
        i += 1
        if (skipDigits() == 0) decline()
      }
      if (i < n && (s(i) == 'e' || s(i) == 'E')) {
        integral = false
        i += 1
        if (i < n && (s(i) == '+' || s(i) == '-')) i += 1
        if (skipDigits() == 0) decline()
      }
      if (i - start > MaxNumberLength) decline()
      integral
    }

    private def skipDigits(): Int = {
      val start = i
      while (i < n && { val c = s(i); c >= '0' && c <= '9' }) i += 1
      i - start
    }

    /** An integral token's value, in one pass: fractions, exponents,
      * leading zeros and values past Long decline (the tree decode would
      * coerce them). */
    private def readLong(): Long = {
      val b = s; val e = n
      var j = i
      val neg = j < e && b(j) == '-'
      if (neg) j += 1
      val digits = j
      // up to 18 digits cannot overflow a long
      val fastEnd = math.min(e, digits + 18)
      var acc = 0L
      while (j < fastEnd && b(j) >= '0' && b(j) <= '9') {
        acc = acc * 10 + (b(j) - '0')
        j += 1
      }
      if (j < e && b(j) >= '0' && b(j) <= '9') {
        // a longer run: negative accumulation reaches Long.MinValue
        // without overflow
        val limit = if (neg) Long.MinValue else -Long.MaxValue
        acc = -acc
        while (j < e && b(j) >= '0' && b(j) <= '9') {
          val d = b(j) - '0'
          if (acc < limit / 10) decline()
          acc *= 10
          if (acc < limit + d) decline()
          acc -= d
          j += 1
        }
        acc = -acc // Long.MinValue stays itself, and negates back below
      }
      if (j == digits || (b(digits) == '0' && j - digits > 1)) decline()
      if (j < e && (b(j) == '.' || b(j) == 'e' || b(j) == 'E')) decline()
      i = j
      lastIntegral = if (neg) -acc else acc
      lastIntegral
    }

    private def readInt(): Int = {
      val v = readLong()
      if (v < Int.MinValue || v > Int.MaxValue) decline()
      v.toInt
    }

    /** The number token `s[start, i)` as text (it is ASCII). */
    private def numberText(start: Int): String =
      new String(s, start, i - start, StandardCharsets.ISO_8859_1)

    /** An integral token converts exactly as the tree's integer node does;
      * any other number by Double.parseDouble, as Jackson parses it. */
    private def readDouble(): Double = {
      val start = i
      if (scanNumber()) { i = start; readLong().toDouble }
      else java.lang.Double.parseDouble(numberText(start))
    }

    /** The text the tree decode hands to BigDecimal for a number token:
      * the integer node's or the double node's string form. */
    private def decimalText(): String = {
      val start = i
      if (scanNumber()) { i = start; java.lang.Long.toString(readLong()) }
      else java.lang.Double.toString(
        java.lang.Double.parseDouble(numberText(start)))
    }

    /** Skip a string (opening quote consumed), validating its escapes and
      * its UTF-8; returns its raw length. */
    private def skipString(): Int = {
      val start = i
      var bits = 0
      while (true) {
        if (i >= n) decline()
        val c = s(i)
        if (c == '"') {
          if (bits < 0 && !Utf8Line.isWellFormed(s, start, i)) decline()
          i += 1
          return i - 1 - start
        }
        if (c >= 0 && c < 0x20) decline()
        bits |= c
        if (c == '\\') i += escapeLength() else i += 1
      }
      0
    }

    /** Length of the valid escape sequence at `i`; declines others. */
    private def escapeLength(): Int = {
      if (i + 1 >= n) decline()
      s(i + 1).toInt match {
        case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => 2
        case 'u' =>
          if (i + 6 > n) decline()
          var k = i + 2
          while (k < i + 6) { hexDigit(s(k)); k += 1 }
          6
        case _ => decline()
      }
    }

    private def hexDigit(c: Byte): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else decline()

    /** The end of the plain run of a string starting at `i`: the first
      * quote, backslash or control character. Sets [[runHigh]]. */
    private def plainEnd(): Int = {
      val b = s; val e = n
      var j = i
      var bits = 0
      while (j < e && {
        val c = b(j); bits |= c; c != '"' && c != '\\' && (c < 0 || c >= 0x20)
      }) j += 1
      runHigh = bits < 0
      j
    }

    /** A plain run's text: declines when it is not well-formed UTF-8. */
    private def plainText(start: Int, end: Int): String = {
      if (runHigh && !Utf8Line.isWellFormed(s, start, end)) decline()
      if (end - start == 1 && s(start) >= 0) OneChar(s(start))
      else new String(s, start, end - start, StandardCharsets.UTF_8)
    }

    private def readString(): String = {
      if (s(i) != '"') decline()
      i += 1
      val start = i
      val end = plainEnd()
      if (end < n && s(end) == '"') {
        i = end + 1
        plainText(start, end)
      } else readEscaped(start, end)
    }

    /** A STRING column's value; text without escapes becomes a UTF8String
      * of its own bytes, with no String in between. */
    private def readUtf8(): UTF8String = {
      if (s(i) != '"') decline()
      i += 1
      val start = i
      val end = plainEnd()
      if (end < n && s(end) == '"') {
        if (runHigh && !Utf8Line.isWellFormed(s, start, end)) decline()
        i = end + 1
        if (shareBytes) UTF8String.fromBytes(s, start, end - start)
        else UTF8String.fromBytes(java.util.Arrays.copyOfRange(s, start, end))
      } else UTF8String.fromString(readEscaped(start, end))
    }

    /** The rest of a string holding escapes: `s[start, j)` is its plain
      * first run, [[runHigh]] set for it. */
    private def readEscaped(start: Int, j: Int): String = {
      val sb = new java.lang.StringBuilder(j - start + 16)
      sb.append(plainText(start, j))
      i = j
      while (true) {
        if (i >= n) decline()
        val c = s(i)
        if (c == '"') { i += 1; return sb.toString }
        if (c >= 0 && c < 0x20) decline()
        if (c != '\\') {
          val runStart = i
          val end = plainEnd()
          sb.append(plainText(runStart, end))
          i = end
        } else {
          val len = escapeLength()
          sb.append(s(i + 1).toInt match {
            case 'b' => '\b'
            case 'f' => '\f'
            case 'n' => '\n'
            case 'r' => '\r'
            case 't' => '\t'
            case 'u' =>
              ((hexDigit(s(i + 2)) << 12) |
                (hexDigit(s(i + 3)) << 8) |
                (hexDigit(s(i + 4)) << 4) |
                hexDigit(s(i + 5))).toChar
            case other => other.toChar // '"', '\\', '/'
          })
          i += len
        }
      }
      null
    }
  }
}
