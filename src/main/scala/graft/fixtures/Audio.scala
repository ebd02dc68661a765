package graft.fixtures

import Bin._

/** The audio fixtures: one `doc_id => payload` builder per corpus, every
  * field from the doc_id formulas that the `graft.EntryOps` `*Assets`
  * scaladocs state and the DuckDB oracles re-derive, so no oracle reads a
  * byte built here.
  */
object Audio {

  // --- RIFF/WAVE --------------------------------------------------------------

  /** A PCM WAV of interleaved `samples`; `list` interposes a LIST chunk
    * with an odd 5-byte body (and its pad byte) before `fmt `.
    */
  private def riff(channels: Long, bits: Long, rate: Long, samples: Array[Byte],
      list: Boolean = false): Array[Byte] = {
    val block = channels * bits / 8
    val body = cat(ascii("WAVE"),
      if (list) cat(ascii("LIST"), le32(5), ascii("INFOX"), zeros(1)) else Array.emptyByteArray,
      ascii("fmt "), le32(16), le16(1), le16(channels), le32(rate), le32(rate * block),
      le16(block), le16(bits),
      ascii("data"), le32(samples.length), samples, zeros(samples.length % 2))
    cat(ascii("RIFF"), le32(body.length), body)
  }

  /** m07: see [[graft.EntryOps.wavAssets]]. */
  def wav(id: Long): Array[Byte] = {
    val (c, wide, f) = (id % 2 + 1, id % 3 != 0, id % 12 + 4)
    val samples =
      if (wide) cat((0L until f * c).map(j => le16((id * 11 + j * 13) % 65536)): _*)
      else bytes(f * c)(j => id * 5 + j * 7)
    riff(c, if (wide) 16 else 8, id % 5 * 2000 + 8000, samples, list = id % 7 == 0)
  }

  /** The quadratic 8-bit recording of [[graft.EntryOps.wavDhashAssets]] and
    * [[graft.EntryOps.audioCorpusAssets]]: 130 + id % 7 samples over a seed
    * that maps id % 10 = 1 onto its predecessor.
    */
  private def recording(id: Long): IndexedSeq[Long] = {
    val seed = (if (id % 10 == 1) id - 1 else id) * 173
    (0L until 130 + id % 7).map { j =>
      val s = seed + j
      (s * s * 7 + s * 11 + seed) % 256
    }
  }

  /** m13/d14: see [[graft.EntryOps.wavDhashAssets]]. */
  def wavDhash(id: Long): Array[Byte] = riff(1, 8, 8000, recording(id).map(_.toByte).toArray)

  /** d27's planted recording: 130 samples of `p(j) = (31·j² + 17·j + 5)
    * mod 256` in [[audioCorpus]]'s WAV layout. The corpus's energy-gradient
    * dhash depends only on `seed mod 256`, so a base index covers all 256
    * corpus hashes at any scale; this recording's dhash is at Hamming ≥ 18
    * from all of them (novel at every scale). The oracle re-derives it from
    * the same p(j).
    */
  val plantedWav: Array[Byte] = riff(1, 8, 32768, bytes(130)(j => j * j * 31 + j * 17 + 5))

  // --- MPEG audio ----------------------------------------------------------------

  private val rates = Array(Array(44100, 48000, 32000), Array(22050, 24000, 16000),
    Array(11025, 12000, 8000))
  private val v1Kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val v2Kbps = Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** m11: see [[graft.EntryOps.mpegAssets]]. */
  def mpeg(id: Long): Array[Byte] = {
    val (ver, srx, brx) = ((id % 3).toInt, ((id / 3) % 3).toInt, id % 14 + 1)
    val br = (if (ver == 0) v1Kbps else v2Kbps)((brx - 1).toInt)
    val flenBase = (if (ver == 0) 144000 else 72000) * br / rates(ver)(srx)
    val frames = (0L until id % 4 + 2).map { j =>
      val pad = (id + j) % 2
      cat(u8(0xFF), u8(Array(0xFB, 0xF3, 0xE3)(ver)),
        u8((if (id % 17 == 3 && j == 0) 0 else brx) * 16 + srx * 4 + pad * 2),
        u8(if (id % 2 == 1) 0xC4 else 0x44), fill((flenBase + pad - 4).toInt, 0xAB))
    }
    // an ID3v2 tag whose body parses as frame headers, and the ID3v1 trailer
    val n = id % 50 + 8
    val id3 =
      if (id % 11 == 7) cat(ascii("ID3"), hex("040000000000"), u8(n),
        bytes(n)(j => Array(0xFF, 0xFB, 0x92, 0xC4)((j % 4).toInt)))
      else Array.emptyByteArray
    val tag = if (id % 29 == 9) cat(ascii("TAG"), zeros(125)) else Array.emptyByteArray
    val full = cat(id3 +: frames :+ tag: _*)
    if (id % 13 == 5) full.dropRight(3) else full
  }

  /** m18: see [[graft.EntryOps.mpegL1Assets]]. */
  def mpegL1(id: Long): Array[Byte] = {
    val nch = if (id % 2 == 1) 2 else 1
    def nb(sb: Int, ch: Int): Int =
      if (sb == 0 && ch == 0 && id % 17 == 3) 16 else ((id + sb + ch) % 3 + 2).toInt
    def frame(f: Int): Array[Byte] = {
      val b = new Bits
      for (sb <- 0 until 32; ch <- 0 until nch) b.put(if (sb < 4) nb(sb, ch) - 1 else 0, 4)
      for (sb <- 0 until 4; ch <- 0 until nch) b.put(3 * ((id + 2 * sb + ch) % 21), 6)
      for (k <- 0 until 12; sb <- 0 until 4; ch <- 0 until nch)
        b.put((id + 7 * f + 5 * k + 11 * sb + 13 * ch) % ((1L << nb(sb, ch)) - 1), nb(sb, ch))
      // 64 kbps mono / 96 kbps stereo at 32 kHz: 96- / 144-byte frames
      val (header, len) = if (nch == 1) ("FFFF28C0", 96) else ("FFFF3800", 144)
      val body = b.flush(padOnes = true)
      cat(hex(header), body, fill(len - 4 - body.length, 0xAB))
    }
    val full =
      if (id % 13 == 5) cat(hex("FFFD28C0"), fill(16, 0xAB)) // a Layer II header
      else cat((0 until (id % 3 + 1).toInt).map(frame): _*)
    if (id % 29 == 9) full.dropRight(3) else full
  }

  // --- FLAC ---------------------------------------------------------------------

  private def streamInfo(rate: Long, channels: Long, bps: Long, total: Long): Array[Byte] =
    cat(ascii("fLaC"), u8(0x80), hex("000022"), u16(total), u16(total), zeros(6),
      u64((rate << 44) + ((channels - 1) << 41) + ((bps - 1) << 36) + total), zeros(16))

  /** One frame of `bs` samples: header (rate and sample size from
    * STREAMINFO, an unverified CRC-8), the subframes zero-padded to a byte,
    * and an unverified CRC-16.
    */
  private def frame(variable: Boolean, channelByte: Int, bs: Long, sub: Bits): Array[Byte] =
    cat(hex(if (variable) "FFF9" else "FFF8"), u8(0x60), u8(channelByte), u8(0), u8(bs - 1),
      u8(0), sub.flush(), zeros(2))

  /** A FIXED order-1 subframe: a `width`-bit warm-up sample, then one
    * Rice partition (parameter k) of zigzagged residuals.
    */
  private def fixed1(b: Bits, s: IndexedSeq[Long], width: Int, k: Int): Unit = {
    b.put(0x12, 8).put(s(0), width).put(0, 6).put(k, 4)
    (1 until s.length).foreach { i =>
      val r = s(i) - s(i - 1)
      val u = if (r >= 0) 2 * r else -2 * r - 1
      b.put(0, (u >> k).toInt).put(1, 1).put(u, k)
    }
  }

  /** m19: see [[graft.EntryOps.flacAssets]]. */
  def flac(id: Long): Array[Byte] = {
    val stereo = id % 2 == 1
    val bs = 68 + id % 40
    def l(i: Long) = (id * 13 + i * 7) % 256 - 128
    def r(i: Long) = (id * 11 + i * 5) % 200 - 100
    val b = new Bits
    if (!stereo) fixed1(b, (0L until bs).map(l), 16, 4)
    else { // mid/side: mid FIXED order 1, side VERBATIM at 17 bits
      fixed1(b, (0L until bs).map(i => (l(i) + r(i)) >> 1), 16, 5)
      b.put(0x02, 8)
      (0L until bs).foreach(i => b.put(l(i) - r(i), 17))
    }
    val channels = if (id % 23 == 7) 3 else if (stereo) 2 else 1
    val full = cat(streamInfo(32000, channels, 16, bs),
      frame(id % 13 == 5, if (stereo) 0xA0 else 0, bs, b))
    if (id % 17 == 3) full.dropRight(2) else full
  }

  /** e07: see [[graft.EntryOps.audioCorpusAssets]]. */
  def audioCorpus(id: Long): Array[Byte] = {
    val s = recording(id)
    val full =
      if (id % 3 == 2) {
        val b = new Bits
        fixed1(b, s.map(_ - 128), 8, 6)
        cat(streamInfo(32768, 1, 8, s.length), frame(variable = false, 0, s.length, b))
      } else riff(1, 8, 32768, s.map(_.toByte).toArray)
    if (id % 17 == 3) full.dropRight(2) else full
  }
}
