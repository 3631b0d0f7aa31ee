package graft.cdc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/**
 * One record line as UTF-8 bytes: `bytes[start, end)`, without its
 * terminator — the line type every dialect hands the source's decoders.
 * The file reader never writes into a buffer a line points into, so a line
 * stays valid after the reader has moved on; nothing may write into
 * `bytes`.
 */
final class Utf8Line(val bytes: Array[Byte], val start: Int, val end: Int) {
  def length: Int = end - start

  /** The line as text; malformed bytes become U+FFFD, as a probe reads
    * them (the window reader rejects them before a line gets here). */
  override def toString: String =
    new String(bytes, start, end - start, StandardCharsets.UTF_8)

  /** The line as text; malformed bytes throw a
    * `CharacterCodingException`, as a strict UTF-8 reader does. */
  def strictString: String = {
    if (!Utf8Line.isWellFormed(bytes, start, end)) Utf8Line.reject(bytes, start, end)
    toString
  }
}

object Utf8Line {
  /** `s` encoded once (a lone surrogate becomes `?`, as
    * `String.getBytes` writes it). */
  def apply(s: String): Utf8Line = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    new Utf8Line(b, 0, b.length)
  }

  /** Whether `b[start, end)` is well-formed UTF-8 (Unicode table 3-7: no
    * overlong forms, surrogates or code points past U+10FFFF) — exactly
    * what the JDK's strict UTF-8 decoder accepts. */
  def isWellFormed(b: Array[Byte], start: Int, end: Int): Boolean = {
    var i = start
    while (i < end) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        // the second byte's range depends on the lead; the rest are
        // plain continuation bytes
        var len = 0; var lo2 = 0x80; var hi2 = 0xbf
        if (c >= 0xc2 && c <= 0xdf) len = 2
        else if (c >= 0xe0 && c <= 0xef) {
          len = 3
          if (c == 0xe0) lo2 = 0xa0 else if (c == 0xed) hi2 = 0x9f
        } else if (c >= 0xf0 && c <= 0xf4) {
          len = 4
          if (c == 0xf0) lo2 = 0x90 else if (c == 0xf4) hi2 = 0x8f
        } else return false
        if (i + len > end) return false
        val c2 = b(i + 1) & 0xff
        if (c2 < lo2 || c2 > hi2) return false
        var k = i + 2
        while (k < i + len) {
          if ((b(k) & 0xc0) != 0x80) return false
          k += 1
        }
        i += len
      }
    }
    true
  }

  /** Throw the strict decoder's own exception for malformed bytes. */
  private[cdc] def reject(b: Array[Byte], start: Int, end: Int): Nothing = {
    StandardCharsets.UTF_8.newDecoder()
      .decode(ByteBuffer.wrap(b, start, end - start))
    throw new java.nio.charset.MalformedInputException(1) // unreachable
  }
}
