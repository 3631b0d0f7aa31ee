package graft.cdc.source

import com.fasterxml.jackson.core.StreamReadConstraints
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
 * Decode contract: [[decode]] first runs a single-pass decoder that scans
 * the line straight into a `GenericInternalRow` through a field-slot table
 * compiled once per StructType (no Jackson tree). It declines every line
 * where it cannot prove it agrees with the Jackson tree decode
 * ([[decodeTree]]): escapes other than the JSON ones it undoes, floats or
 * exponents in integral columns, leading zeros, integers past the
 * column's range, values of a type the column's tree converter would
 * coerce (a number in a STRING column, a string in a numeric one), MAP and
 * custom-converter columns holding a non-null value, non-object lines,
 * trailing content and any token Jackson would reject. Fields the schema
 * does not name are skipped by a validating scan, which declines whatever
 * syntax it does not certify; a repeated field keeps its last value, as
 * in the tree. A declined line, and any line whose conversion throws, is
 * decoded by the unchanged tree path, so values, nulls, exceptions and
 * parse-error-policy outcomes are those of the tree decode.
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

  /** Single-pass field-slot tables: the row schema, and the change
    * envelope around it (see [[decodeEnvelopeSinglePass]]). */
  @transient private lazy val rowSlots: JsonRowCodec.Slots =
    JsonRowCodec.Slots.compile(schema, customSlots)
  @transient private lazy val envelopeSlots: JsonRowCodec.Slots =
    JsonRowCodec.Slots.envelope(schema, rowSlots)

  def decode(line: String): InternalRow = {
    val row = decodeSinglePass(line)
    if (row != null) row else decodeTree(line)
  }

  /** The Jackson tree decode: the path for every line the single-pass
    * decoder declines, and the reference tests compare it against. */
  def decodeTree(line: String): InternalRow =
    convertStruct(mapper.readTree(line), schema)

  /** Single-pass decode of one row line; null = declined. */
  private[source] def decodeSinglePass(line: String): InternalRow =
    singlePass(line, rowSlots)

  /** Single-pass decode of a change-envelope line whose images have this
    * codec's schema: a row of (`__offset` Long, `__op` java String,
    * `__ts_ms` Long, `before`, `after`). null = declined, which includes a
    * missing or null `__offset`, `__op` or `__ts_ms` (the tree path then
    * decides how such a line fails). */
  private[source] def decodeEnvelopeSinglePass(line: String): InternalRow = {
    val r = singlePass(line, envelopeSlots)
    if (r == null || r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) null
    else r
  }

  private def singlePass(line: String, slots: JsonRowCodec.Slots)
      : InternalRow =
    try new JsonRowCodec.LineScanner(line, serverZoneId).readLine(slots)
    catch { case NonFatal(_) => null }

  /** Decode only, returning the parsed tree too (for envelope routing). */
  def parse(line: String): JsonNode = mapper.readTree(line)

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

  // Value kinds of the single-pass decoder.
  private final val KBool = 0; private final val KByte = 1
  private final val KShort = 2; private final val KInt = 3
  private final val KLong = 4; private final val KFloat = 5
  private final val KDouble = 6; private final val KDecimal = 7
  private final val KString = 8; private final val KBinary = 9
  private final val KDate = 10; private final val KTimestamp = 11
  private final val KTimestampNtz = 12; private final val KStruct = 13
  private final val KArray = 14
  /** A java.lang.String value (the envelope's `__op`). */
  private final val KJavaString = 15
  /** Only `null` is decoded; any other value declines the line (MAP and
    * custom-converter columns, types the tree decode does not support). */
  private final val KNullOnly = 16

  /** How one value is decoded: its kind, plus the slot table of a struct
    * or the element conversion of an array. */
  private final class Conv(val kind: Int, val dataType: DataType,
      val fields: Slots, val elem: Conv)

  /** The compiled field-slot table of one StructType. */
  private final class Slots(val names: Array[String], val convs: Array[Conv],
      /** The struct names a field twice; the tree decode reads one JSON
        * value into both slots, so the single-pass decoder declines. */
      val duplicateNames: Boolean) {
    val size: Int = names.length

    /** Slot of the key `s[start, start + len)`, trying `expect` (the slot
      * after the previous key: Spark writes fields in schema order) first;
      * -1 = not a schema field. */
    def indexOf(s: String, start: Int, len: Int, expect: Int): Int = {
      if (expect < size && matches(expect, s, start, len)) return expect
      var k = 0
      while (k < size) {
        if (k != expect && matches(k, s, start, len)) return k
        k += 1
      }
      -1
    }

    private def matches(k: Int, s: String, start: Int, len: Int): Boolean = {
      val name = names(k)
      name.length == len && s.regionMatches(start, name, 0, len)
    }
  }

  private object Slots {
    def compile(st: StructType,
        custom: java.util.HashMap[StructType, Array[JsonNode => Any]])
        : Slots = {
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
      new Slots(st.fieldNames, convs,
        st.fieldNames.distinct.length != st.size)
    }

    /** `{__offset, __op, __ts_ms, before, after}` around `row`'s schema;
      * every other envelope field (`__db`, `__table`) is skipped. */
    def envelope(payload: StructType, row: Slots): Slots = {
      import graft.cdc.ChangeRecord._
      val image = new Conv(KStruct, payload, row, null)
      new Slots(Array(OffsetCol, OpCol, TsCol, BeforeCol, AfterCol),
        Array(new Conv(KLong, LongType, null, null),
          new Conv(KJavaString, StringType, null, null),
          new Conv(KLong, LongType, null, null), image, image),
        duplicateNames = false)
    }
  }

  /** Thrown (without a stack trace) when the scanner declines a line. */
  private object Declined extends RuntimeException(
    "declined by the single-pass decoder", null, false, false)

  // Bounds well inside Jackson's read constraints, so that no accepted
  // line is one the tree decode would reject for its size.
  private val jacksonLimits = StreamReadConstraints.defaults()
  private val MaxLineLength = jacksonLimits.getMaxStringLength
  private val MaxDepth = math.min(64, jacksonLimits.getMaxNestingDepth)
  private val MaxNumberLength = math.min(100, jacksonLimits.getMaxNumberLength)
  private val MaxNameLength = math.min(1000, jacksonLimits.getMaxNameLength)

  /** One pass over one line. Every method starts at its token's first
    * character (whitespace already skipped) and leaves `i` just past it;
    * anything unexpected throws [[Declined]]. Under the mapper's default
    * features the tree decode truncates an INT column's integer past Int
    * and ignores trailing content; such lines decline all the same, so
    * agreement does not rest on those defaults. */
  private final class LineScanner(s: String, zone: ZoneId) {
    private[this] val n = s.length
    private[this] var i = 0

    def readLine(slots: Slots): InternalRow = {
      if (n > MaxLineLength) decline()
      skipWs()
      if (i >= n || s.charAt(i) != '{') decline()
      val row = readObject(slots, 1)
      skipWs()
      if (i != n) decline()
      row
    }

    private def decline(): Nothing = throw Declined

    private def skipWs(): Unit = {
      while (i < n && {
        val c = s.charAt(i); c == ' ' || c == '\t' || c == '\n' || c == '\r'
      }) i += 1
    }

    /** The next non-whitespace character, consumed. */
    private def nextToken(): Char = {
      skipWs()
      if (i >= n) decline()
      val c = s.charAt(i); i += 1; c
    }

    private def literal(word: String): Unit = {
      if (!s.startsWith(word, i)) decline()
      i += word.length
    }

    private def readObject(t: Slots, depth: Int): InternalRow = {
      if (depth > MaxDepth || t.duplicateNames) decline()
      i += 1
      val row = new GenericInternalRow(t.size)
      var expect = 0
      var c = nextToken()
      if (c == '}') return row
      while (true) {
        if (c != '"') decline()
        val k = readKey(t, expect)
        if (nextToken() != ':') decline()
        skipWs()
        if (k < 0) skipValue(depth)
        else {
          // a repeated field overwrites: the tree keeps the last value too
          row.update(k, readValue(t.convs(k), depth))
          expect = k + 1
        }
        c = nextToken()
        if (c == '}') return row
        if (c != ',') decline()
        c = nextToken()
      }
      row
    }

    /** A field name (opening quote already consumed) → its slot, -1 if the
      * schema has none. */
    private def readKey(t: Slots, expect: Int): Int = {
      val start = i
      val end = plainEnd()
      if (end < n && s.charAt(end) == '"') {
        if (end - start > MaxNameLength) decline()
        i = end + 1
        t.indexOf(s, start, end - start, expect)
      } else {
        val name = readEscaped(start, end)
        if (name.length > MaxNameLength) decline()
        t.indexOf(name, 0, name.length, expect)
      }
    }

    private def readValue(c: Conv, depth: Int): Any = {
      if (i >= n) decline()
      val ch = s.charAt(i)
      if (ch == 'n') { literal("null"); return null }
      c.kind match {
        case KBool =>
          if (ch == 't') { literal("true"); true }
          else { literal("false"); false }
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
        case KJavaString => readString()
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
      if (i < n && s.charAt(i) == ']') i += 1
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
      s.charAt(i) match {
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
          if (i < n && s.charAt(i) == ']') i += 1
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
        case 't' => literal("true")
        case 'f' => literal("false")
        case 'n' => literal("null")
        case _ => scanNumber()
      }
    }

    /** Scan a JSON number token by the strict grammar Jackson applies by
      * default; true when it is integral (no fraction, no exponent). */
    private def scanNumber(): Boolean = {
      val start = i
      if (i < n && s.charAt(i) == '-') i += 1
      val intStart = i
      skipDigits()
      if (i == intStart ||
          (s.charAt(intStart) == '0' && i - intStart > 1)) decline()
      var integral = true
      if (i < n && s.charAt(i) == '.') {
        integral = false
        i += 1
        if (skipDigits() == 0) decline()
      }
      if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
        integral = false
        i += 1
        if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
        if (skipDigits() == 0) decline()
      }
      if (i - start > MaxNumberLength) decline()
      integral
    }

    private def skipDigits(): Int = {
      val start = i
      while (i < n && { val c = s.charAt(i); c >= '0' && c <= '9' }) i += 1
      i - start
    }

    /** An integral token's value: fractions, exponents, leading zeros and
      * values past Long decline (the tree decode would coerce them). */
    private def readLong(): Long = {
      val start = i
      if (!scanNumber()) decline()
      val neg = s.charAt(start) == '-'
      // negative accumulation reaches Long.MinValue without overflow
      val limit = if (neg) Long.MinValue else -Long.MaxValue
      var acc = 0L
      var j = if (neg) start + 1 else start
      while (j < i) {
        val d = s.charAt(j) - '0'
        if (acc < limit / 10) decline()
        acc *= 10
        if (acc < limit + d) decline()
        acc -= d
        j += 1
      }
      if (neg) acc else -acc
    }

    private def readInt(): Int = {
      val v = readLong()
      if (v < Int.MinValue || v > Int.MaxValue) decline()
      v.toInt
    }

    /** An integral token converts exactly as the tree's integer node does;
      * any other number by Double.parseDouble, as Jackson parses it. */
    private def readDouble(): Double = {
      val start = i
      if (scanNumber()) { i = start; readLong().toDouble }
      else java.lang.Double.parseDouble(s.substring(start, i))
    }

    /** The text the tree decode hands to BigDecimal for a number token:
      * the integer node's or the double node's string form. */
    private def decimalText(): String = {
      val start = i
      if (scanNumber()) { i = start; java.lang.Long.toString(readLong()) }
      else java.lang.Double.toString(
        java.lang.Double.parseDouble(s.substring(start, i)))
    }

    /** Skip a string (opening quote consumed), validating its escapes;
      * returns its raw length. */
    private def skipString(): Int = {
      val start = i
      while (true) {
        if (i >= n) decline()
        val c = s.charAt(i)
        if (c == '"') { i += 1; return i - 1 - start }
        if (c < 0x20) decline()
        if (c == '\\') i += escapeLength() else i += 1
      }
      0
    }

    /** Length of the valid escape sequence at `i`; declines others. */
    private def escapeLength(): Int = {
      if (i + 1 >= n) decline()
      s.charAt(i + 1) match {
        case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => 2
        case 'u' =>
          if (i + 6 > n) decline()
          var k = i + 2
          while (k < i + 6) { hexDigit(s.charAt(k)); k += 1 }
          6
        case _ => decline()
      }
    }

    private def hexDigit(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else decline()

    /** The end of the plain run of a string starting at `i` (just past the
      * opening quote): the first quote, backslash or control character. */
    private def plainEnd(): Int = {
      var j = i
      while (j < n && {
        val c = s.charAt(j); c != '"' && c != '\\' && c >= 0x20
      }) j += 1
      j
    }

    private def readString(): String = {
      if (s.charAt(i) != '"') decline()
      i += 1
      val start = i
      val end = plainEnd()
      if (end < n && s.charAt(end) == '"') {
        i = end + 1
        s.substring(start, end)
      } else readEscaped(start, end)
    }

    /** A STRING column's value; pure-ASCII text goes straight to UTF-8
      * bytes without an intermediate String. */
    private def readUtf8(): UTF8String = {
      if (s.charAt(i) != '"') decline()
      i += 1
      val start = i
      val end = plainEnd()
      if (end < n && s.charAt(end) == '"') {
        i = end + 1
        val bytes = new Array[Byte](end - start)
        var k = start
        while (k < end) {
          val c = s.charAt(k)
          if (c >= 0x80) return UTF8String.fromString(s.substring(start, end))
          bytes(k - start) = c.toByte
          k += 1
        }
        UTF8String.fromBytes(bytes)
      } else UTF8String.fromString(readEscaped(start, end))
    }

    /** The rest of a string holding escapes: `s[start, j)` is plain text. */
    private def readEscaped(start: Int, j: Int): String = {
      val sb = new java.lang.StringBuilder(j - start + 16)
      sb.append(s, start, j)
      i = j
      while (true) {
        if (i >= n) decline()
        val c = s.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        if (c < 0x20) decline()
        if (c != '\\') { sb.append(c); i += 1 }
        else {
          val len = escapeLength()
          sb.append(s.charAt(i + 1) match {
            case 'b' => '\b'
            case 'f' => '\f'
            case 'n' => '\n'
            case 'r' => '\r'
            case 't' => '\t'
            case 'u' =>
              ((hexDigit(s.charAt(i + 2)) << 12) |
                (hexDigit(s.charAt(i + 3)) << 8) |
                (hexDigit(s.charAt(i + 4)) << 4) |
                hexDigit(s.charAt(i + 5))).toChar
            case other => other // '"', '\\', '/'
          })
          i += len
        }
      }
      null
    }
  }
}
