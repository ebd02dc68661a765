package graft.fixtures

import java.nio.charset.StandardCharsets.US_ASCII

/** Byte writer for binary fixtures. Every value is an `Array[Byte]`;
  * `u*` fields are big-endian, `le*` little-endian. [[box]] prefixes its
  * children with their exact ISO-BMFF size, so a fixture states only the
  * sizes it deliberately gets wrong.
  */
object Bin {
  def u8(v: Long): Array[Byte] = Array(v.toByte)
  def u16(v: Long): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def u32(v: Long): Array[Byte] = {
    val a = new Array[Byte](4)
    a(0) = (v >> 24).toByte; a(1) = (v >> 16).toByte; a(2) = (v >> 8).toByte; a(3) = v.toByte
    a
  }
  def u64(v: Long): Array[Byte] = cat(u32(v >>> 32), u32(v))
  def le16(v: Long): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  def le32(v: Long): Array[Byte] = cat(le16(v), le16(v >> 16))
  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)
  /** A constant byte run written as hex digits (marker segments, tables). */
  def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  def zeros(n: Int): Array[Byte] = new Array[Byte](n)
  def fill(n: Int, b: Int): Array[Byte] = {
    val a = new Array[Byte](n); java.util.Arrays.fill(a, b.toByte); a
  }
  /** `n` bytes, byte j the low 8 bits of `f(j)`. */
  def bytes(n: Long)(f: Long => Long): Array[Byte] =
    Array.tabulate(n.toInt)(j => f(j).toByte)
  def cat(parts: Array[Byte]*): Array[Byte] = concat(0, parts)

  /** `size(u32) ‖ type ‖ children`, size counting its own 8-byte header. */
  def box(tpe: String, children: Array[Byte]*): Array[Byte] = {
    val out = concat(8, children)
    System.arraycopy(u32(out.length), 0, out, 0, 4)
    for (i <- 0 until 4) out(4 + i) = tpe.charAt(i).toByte
    out
  }

  /** `parts` copied once into a new array, after `head` unwritten bytes. */
  private def concat(head: Int, parts: Seq[Array[Byte]]): Array[Byte] = {
    var n = head
    parts.foreach(p => n += p.length)
    val out = new Array[Byte](n)
    var i = head
    parts.foreach { p => System.arraycopy(p, 0, out, i, p.length); i += p.length }
    out
  }
}

/** MSB-first bit writer for the entropy-coded fixtures (JPEG, MPEG audio
  * Layer I, FLAC).
  */
final class Bits {
  private val out = new java.io.ByteArrayOutputStream
  private var acc = 0
  private var n = 0

  /** The low `width` bits of `v`, most significant first. */
  def put(v: Long, width: Int): Bits = {
    var i = width - 1
    while (i >= 0) {
      acc = (acc << 1) | ((v >>> i) & 1).toInt
      n += 1
      if (n == 8) { out.write(acc); acc = 0; n = 0 }
      i -= 1
    }
    this
  }

  /** The bytes written, the last one padded with 0-bits (or 1-bits when
    * `padOnes`); `stuff` follows every 0xFF byte with 0x00, JPEG's byte
    * stuffing (T.81 F.1.2.3).
    */
  def flush(padOnes: Boolean = false, stuff: Boolean = false): Array[Byte] = {
    if (n > 0) put(if (padOnes) -1L else 0L, 8 - n)
    val raw = out.toByteArray
    if (!stuff) raw
    else {
      val s = new java.io.ByteArrayOutputStream(raw.length + 8)
      raw.foreach { b => s.write(b); if (b == -1) s.write(0) }
      s.toByteArray
    }
  }
}
