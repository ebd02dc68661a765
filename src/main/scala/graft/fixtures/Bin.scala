package graft.fixtures

import java.nio.charset.StandardCharsets.US_ASCII

/** Big-endian byte writer for binary container fixtures. Every value is an
  * `Array[Byte]`; [[box]] prefixes its children with their exact ISO-BMFF
  * size, so a fixture states only the sizes it deliberately gets wrong.
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
  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)
  def zeros(n: Int): Array[Byte] = new Array[Byte](n)
  def fill(n: Int, b: Int): Array[Byte] = {
    val a = new Array[Byte](n); java.util.Arrays.fill(a, b.toByte); a
  }
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
