package graft.fixtures

import java.util.zip.{Adler32, CRC32}

import Bin._

/** The image fixtures: one `doc_id => payload` builder per corpus, every
  * field from the doc_id formulas that the `graft.EntryOps` `*Assets`
  * scaladocs state and the DuckDB oracles re-derive, so no oracle reads a
  * byte built here.
  */
object Image {

  // --- netpbm ----------------------------------------------------------------

  private def netpbm(rgb: Boolean, comment: Boolean, w: Long, h: Long,
      pixels: Array[Byte]): Array[Byte] =
    cat(ascii((if (rgb) "P6\n" else "P5\n") + (if (comment) "# synthetic fixture\n" else "") +
      s"$w $h\n255\n"), pixels)

  /** m05: see [[graft.EntryOps.ppmPixels]]. */
  def ppm(id: Long): Array[Byte] = {
    val (w, h, rgb) = (id % 8 + 2, (id * 3) % 8 + 2, id % 3 != 0)
    netpbm(rgb, id % 7 == 0, w, h, bytes(w * h * (if (rgb) 3 else 1))(j => id % 256 + j))
  }

  /** m12/d13: see [[graft.EntryOps.dhashAssets]]. */
  def dhash(id: Long): Array[Byte] = {
    val dec = id / 10
    val (w, h, rgb) = (dec % 8 + 2, (dec * 3) % 8 + 2, dec % 3 != 0)
    val seed = (if (id % 10 == 1) id - 1 else id) * 131
    netpbm(rgb, comment = false, w, h, bytes(w * h * (if (rgb) 3 else 1)) { j =>
      val s = seed + j
      s * s * 13 + s * 7 + seed
    })
  }

  // --- PNG -------------------------------------------------------------------

  private def chunk(tpe: String, body: Array[Byte]): Array[Byte] = {
    val crc = new CRC32
    crc.update(ascii(tpe)); crc.update(body)
    cat(u32(body.length), ascii(tpe), body, u32(crc.getValue))
  }

  /** m06: see [[graft.EntryOps.pngAssets]]. Scanline y is written with
    * filter type y % 5 over a stored (uncompressed) DEFLATE block.
    */
  def png(id: Long): Array[Byte] = {
    val (w, h, bpp) = (id % 8 + 2, (id * 3) % 8 + 2, if (id % 3 != 0) 3L else 1L)
    val stride = w * bpp
    def raw(y: Long, x: Long): Long = if (y < 0 || x < 0) 0 else (id % 256 + y * stride + x) % 256
    val data = bytes(h * (stride + 1)) { k =>
      val (y, x) = (k / (stride + 1), k % (stride + 1) - 1)
      if (x < 0) y % 5
      else {
        val (a, b, c) = (raw(y, x - bpp), raw(y - 1, x), raw(y - 1, x - bpp))
        val p = a + b - c
        val pred = y % 5 match {
          case 0 => 0L
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ => // Paeth
            if (math.abs(p - a) <= math.abs(p - b) && math.abs(p - a) <= math.abs(p - c)) a
            else if (math.abs(p - b) <= math.abs(p - c)) b
            else c
        }
        raw(y, x) - pred
      }
    }
    val adler = new Adler32
    adler.update(data)
    val zlib = cat(hex("780101"), // CMF/FLG, then a final stored block
      le16(data.length), le16(65535 - data.length), data, u32(adler.getValue))
    cat(hex("89504E470D0A1A0A"),
      chunk("IHDR", cat(u32(w), u32(h), u8(8), u8(if (bpp == 3) 2 else 0), zeros(3))),
      chunk("IDAT", zlib),
      chunk("IEND", Array.emptyByteArray))
  }

  // --- baseline and progressive JPEG ------------------------------------------

  private val soiApp0 = hex("FFD8FFE000104A46494600010100000100010000")
  private def dqt(table: Int, q: Int): Array[Byte] = cat(hex("FFDB0043"), u8(table), fill(64, q))
  /** DC: all twelve categories at code length 4 (code = the category);
    * AC: the single symbol EOB at length 1.
    */
  private val dht = hex("FFC40031" + "00" + "0000000C" + "00" * 12 + "000102030405060708090A0B" +
    "10" + "01" + "00" * 15 + "00")
  private def sofGray(marker: String, w: Long, h: Long): Array[Byte] =
    cat(hex(marker + "000B08"), u16(h), u16(w), hex("01011100"))

  /** The constant block value of block (bx, by) of content `key`, level-shifted. */
  private def block(key: Long, bx: Long, by: Long): Long = (key * 7 + bx * 13 + by * 29) % 256 - 128

  /** DC difference `d`: its category in 4 bits, then the amplitude bits
    * (T.81 F.2.2.1: negatives offset by 2^cat − 1).
    */
  private def putDc(b: Bits, d: Long): Unit = {
    val cat = if (d == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(math.abs(d))
    b.put(cat, 4)
    if (d != 0) b.put(if (d > 0) d else d + (1L << cat) - 1, cat)
  }

  private def entropy(b: Bits): Array[Byte] = b.flush(padOnes = true, stuff = true)

  /** A baseline scan over quantized DC values: per unit the DC code and an
    * EOB, plus `suffixBits` zero bits (constant chroma blocks) after unit k.
    */
  private def baselineScan(dc: IndexedSeq[Long], suffixBits: Long => Int): Array[Byte] = {
    val b = new Bits
    dc.indices.foreach { k =>
      putDc(b, dc(k) - (if (k == 0) 0 else dc(k - 1)))
      b.put(0, 1 + suffixBits(k))
    }
    entropy(b)
  }

  /** The three-scan Annex G script over quantized DC values: DC first at
    * Al=1, DC refinement, AC first (one EOB per block). The AC scan is
    * omitted when `trunc`.
    */
  private def progressiveScans(dc: IndexedSeq[Long], trunc: Boolean): Array[Byte] = {
    val first = new Bits
    dc.indices.foreach(k => putDc(first, (dc(k) >> 1) - (if (k == 0) 0 else dc(k - 1) >> 1)))
    val refine = new Bits
    dc.foreach(v => refine.put(v & 1, 1))
    cat(hex("FFDA0008010100000001"), entropy(first),
      hex("FFDA0008010100000010"), entropy(refine),
      if (trunc) Array.emptyByteArray
      else cat(hex("FFDA0008010100013F00"), entropy(new Bits().put(0, dc.length))))
  }

  /** Row-major quantized DC values of a grayscale w×h image at `scale` = 8/quant. */
  private def grayDc(key: Long, w: Long, h: Long, scale: Long): IndexedSeq[Long] = {
    val wb = (w + 7) / 8
    (0L until wb * ((h + 7) / 8)).map(k => block(key, k % wb, k / wb) * scale)
  }

  private def grayBaseline(key: Long, w: Long, h: Long, quant: Int, marker: String,
      trunc: Boolean): Array[Byte] =
    cat(soiApp0, dqt(0, quant), sofGray(marker, w, h), dht, hex("FFDA0008010100003F00"),
      if (trunc) Array.emptyByteArray else baselineScan(grayDc(key, w, h, 8 / quant), _ => 0),
      hex("FFD9"))

  private def grayProgressive(key: Long, w: Long, h: Long, quant: Int, marker: String,
      trunc: Boolean): Array[Byte] =
    cat(soiApp0, dqt(0, quant), sofGray(marker, w, h), dht,
      progressiveScans(grayDc(key, w, h, 8 / quant), trunc), hex("FFD9"))

  /** m15: see [[graft.EntryOps.jpegAssets]]. */
  def jpeg(id: Long): Array[Byte] = {
    val mode = id % 4
    val (w, h) = (id % 21 + 4, (id * 5) % 19 + 4)
    val marker = if (id % 13 == 5) "FFC2" else "FFC0"
    val trunc = id % 17 == 3
    if (mode % 3 == 0) grayBaseline(id, w, h, if (mode == 3) 4 else 8, marker, trunc)
    else {
      // YCbCr; 4:2:0 (mode 2) orders four Y blocks per 16×16 MCU
      // left-right then top-bottom, and crops partial MCUs
      val wb2 = (w + 15) / 16
      val dc =
        if (mode == 1) grayDc(id, w, h, 1)
        else (0L until wb2 * ((h + 15) / 16) * 4).map { k =>
          block(id, 2 * (k / 4 % wb2) + k % 4 % 2, 2 * (k / 4 / wb2) + k % 4 / 2)
        }
      val chroma: Long => Int = k => if (mode == 1 || k % 4 == 3) 10 else 0
      val sampling = if (mode == 2) 0x22 else 0x11
      val cq = if (mode == 1) 1 else 0
      cat(soiApp0, dqt(0, 8), if (mode == 1) dqt(1, 16) else Array.emptyByteArray,
        hex(marker + "001108"), u16(h), u16(w),
        u8(3), u8(1), u8(sampling), u8(0), hex("0211"), u8(cq), hex("0311"), u8(cq),
        dht, hex("FFDA000C03010002000300003F00"),
        if (trunc) Array.emptyByteArray else baselineScan(dc, chroma), hex("FFD9"))
    }
  }

  /** m17: see [[graft.EntryOps.jpegProgressiveAssets]]. */
  def jpegProgressive(id: Long): Array[Byte] =
    grayProgressive(id, id % 21 + 4, (id * 5) % 19 + 4, if (id % 2 == 1) 4 else 8,
      if (id % 13 == 5) "FFCA" else "FFC2", id % 17 == 3)

  /** e06: see [[graft.EntryOps.jpegCorpusAssets]]. */
  def jpegCorpus(id: Long): Array[Byte] = {
    val sd = if (id % 10 == 1) id - 1 else id
    val (w, h) = (sd % 21 + 4, (sd * 5) % 19 + 4)
    if (id % 3 == 2) grayProgressive(sd, w, h, 8, "FFC2", id % 17 == 3)
    else grayBaseline(sd, w, h, 8, "FFC0", id % 17 == 3)
  }

  // --- BMP and GIF ------------------------------------------------------------

  /** m20: see [[graft.EntryOps.bmpAssets]]. Rows are written 0..h−1 in
    * either height sign (a storage order cannot change a sum).
    */
  def bmp(id: Long): Array[Byte] = {
    val (w, h, pal) = (id % 9 + 2, (id * 3) % 7 + 2, id % 2 == 1)
    val rowBytes = if (pal) (w + 3) / 4 * 4 else (w * 3 + 3) / 4 * 4
    val pixOff = if (pal) 118 else 54
    val rows = (0L until h).map { y =>
      val px =
        if (pal) bytes(w)(x => (id + x + 3 * y) % 16)
        else cat((0L until w).map { x =>
          val p = y * w + x
          cat(u8(id * 5 + p), u8(id + p * 2), u8(id * 7 + p * 3)) // B, G, R
        }: _*)
      cat(px, zeros((rowBytes - px.length).toInt))
    }
    val palette =
      if (pal) cat((0L until 16).map(c => cat(u8(c * 5), u8(c * 7), u8(c * 11), u8(0))): _*)
      else Array.emptyByteArray
    val full = cat(Seq(ascii("BM"), le32(pixOff + rowBytes * h), zeros(4), le32(pixOff),
      le32(40), le32(w), le32(if (id % 11 == 4) -h else h), le16(1), le16(if (pal) 8 else 24),
      le32(if (id % 17 == 3) 1 else 0), zeros(12), le32(if (pal) 16 else 0), zeros(4),
      palette) ++ rows: _*)
    if (id % 13 == 5) full.dropRight(2) else full
  }

  /** The 128-entry global palette, entry i = (i, 5i, 11i) mod 256. */
  private val gifHead = cat(hex("F60000"),
    cat((0L until 128).map(i => cat(u8(i), u8(i * 5), u8(i * 11))): _*))

  /** One image block: descriptor, then a literal-code LZW stream (minimum
    * code size 7: CLEAR, one 8-bit code per pixel, END) in one sub-block.
    */
  private def gifFrame(left: Long, w: Long, h: Long, index: Long => Long): Array[Byte] =
    cat(u8(0x2C), le16(left), le16(0), le16(w), le16(h), u8(0), u8(7),
      u8(w * h + 2), u8(0x80), bytes(w * h)(index), u8(0x81), u8(0))

  /** m08: see [[graft.EntryOps.gifAssets]]. */
  def gif(id: Long): Array[Byte] = {
    val (w, h) = (id % 8 + 2, (id * 3) % 8 + 2)
    cat(ascii("GIF89a"), le16(w), le16(h), gifHead,
      gifFrame(0, w, h, j => (id + j) % 128), u8(0x3B))
  }

  /** m09: see [[graft.EntryOps.gifAnimAssets]]. */
  def gifAnim(id: Long): Array[Byte] = {
    val (w, h) = (id % 8 + 2, (id * 3) % 8 + 2)
    val frames = (0L until id % 4 + 1).map { f =>
      gifFrame(if (f == 0) 0 else 1, if (f == 0) w else w - 1, h, j => (id + 31 * f + j) % 128)
    }
    val gce = if (id % 3 == 0) hex("21F9040000000000") else Array.emptyByteArray
    cat(Seq(ascii("GIF89a"), le16(w), le16(h), gifHead, gce) ++ frames :+ u8(0x3B): _*)
  }

  // --- container headers --------------------------------------------------------

  /** m04: the header part of a [[graft.EntryOps.mediaDims]] payload (the
    * document text follows it): PNG, GIF, BMP, JPEG or none by id % 5.
    */
  def mediaHeader(id: Long): Array[Byte] = {
    val (w, h) = (id % 1000 + 1, (id * 7) % 1000 + 3)
    id % 5 match {
      case 0 => cat(hex("89504E470D0A1A0A0000000D49484452"), u32(w), u32(h))
      case 1 => cat(ascii("GIF89a"), le16(w), le16(h))
      case 2 => cat(ascii("BM"), zeros(12), le32(40), le32(w), le32(h))
      case 3 => cat(soiApp0, hex("FFC0001108"), u16(h), u16(w))
      case _ => zeros(1) // a leading NUL matches no container signature
    }
  }
}
