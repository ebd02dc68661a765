package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL pixel-level decode of JPEG — the last ubiquitous image format that
  * was behind the documented `fakeDecode` stand-in. Implemented from the
  * public spec (ITU-T T.81) with zero codec libraries, the same pattern as
  * the from-spec GIF LZW decoder ([[GifFeatures]]): marker walk → DQT
  * (8-bit tables) → DHT (canonical Huffman per Annex C) → SOF0/SOF1 →
  * SOS → entropy decode (Huffman + DC prediction + zigzag + dequant,
  * Annex F) → double-precision separable IDCT → chroma upsampling by
  * replication → JFIF YCbCr→RGB → exact per-channel integer sums.
  *
  * Scope (honest-refusal pattern, like [[PngFeatures]]'s): baseline/extended
  * sequential Huffman (SOF0/SOF1) with a single interleaved scan, AND — new
  * in r9 — progressive Huffman (SOF2) per Annex G: spectral-selection +
  * successive-approximation scans (DC first/refine, AC first/refine with
  * EOB-run state), multiple DHT/DQT/DRI segments between scans, restart
  * markers inside every scan. 8-bit precision, 1 or 3 components, sampling
  * factors 1..4. Anything else a conformant reader could meet — lossless,
  * arithmetic coding, 12-bit precision, CMYK, hierarchical — yields format
  * "jpeg" with the SOF header dims and null pixel stats, never a misread.
  * A truncated or marker-interrupted entropy stream likewise refuses, and a
  * progressive file whose scans do not cover every coefficient of every
  * component (a truncated scan script) refuses too: partial decodes are
  * never summed. Scan headers that violate G.1's progression rules (Ss=0
  * with Se≠0, interleaved AC, Ah ≠ Al+1 on refinement, double-covered or
  * refined-before-first bands) refuse rather than guess.
  *
  * Output: `struct<format, width, height, components, n_pixels, sum_r,
  * sum_g, sum_b>` — integer channel sums (grayscale reports its one channel
  * in all three slots), exact and order-independent, so the DuckDB oracle
  * reproduces them from the fixture formulas without a JPEG codec. One
  * per-row call in the scan stage: pixel statistics at 100 TB never shuffle
  * anything but the per-asset struct.
  */
case class JpegFeatures(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = JpegFeatures.schema

  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(BinaryType)

  override protected def nullSafeEval(input: Any): Any =
    JpegFeatures.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.JpegFeatures.decode($c)")

  override protected def withNewChildInternal(newChild: Expression): JpegFeatures =
    copy(child = newChild)

  override def prettyName: String = "jpeg_features"
}

object JpegFeatures {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("components", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true)))

  private def row(fmt: String, vals: Array[Any]): InternalRow =
    new GenericInternalRow(UTF8String.fromString(fmt) +: vals)

  private val nulls: Array[Any] = Array.fill[Any](7)(null)

  /** Planes above this bound refuse rather than decode — one task
    * materializing gigabytes for a single asset is an operational hazard
    * (same rationale and figure as [[PngFeatures.MaxRasterBytes]]).
    */
  private val MaxPlaneBytes = 256L << 20

  /** Zigzag scan order (T.81 Figure 5): entry k is the natural (row-major)
    * coefficient position of the k-th coefficient in transmission order.
    */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis: Cos(u)(x) = c(u)/2 · cos((2x+1)uπ/16), c(0)=1/√2 else 1.
    * Double precision keeps the flat (DC-only) reconstruction bit-exact,
    * which is what makes the in-plan fixture's sums closed-form.
    */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Canonical Huffman decode tables per T.81 Annex C/F (MINCODE / MAXCODE /
    * VALPTR). `null` return from [[build]] = invalid table (over-subscribed
    * length) → the caller refuses the image.
    */
  private final class Huff(val mincode: Array[Int], val maxcode: Array[Int],
      val valptr: Array[Int], val vals: Array[Int])

  private def buildHuff(bits: Array[Int], vals: Array[Int]): Huff = {
    val mincode = new Array[Int](17)
    val maxcode = Array.fill(17)(-1)
    val valptr = new Array[Int](17)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      if (bits(l) > 0) {
        if (code + bits(l) > (1 << l)) return null // over-subscribed
        valptr(l) = k
        mincode(l) = code
        code += bits(l)
        maxcode(l) = code - 1
        k += bits(l)
      }
      code <<= 1
      l += 1
    }
    new Huff(mincode, maxcode, valptr, vals)
  }

  /** MSB-first entropy-stream bit reader with 0xFF00 de-stuffing. Hitting a
    * real marker (or the buffer end) mid-stream yields -1 from [[next]];
    * [[consumeRst]] realigns across an expected restart marker.
    */
  private final class BitReader(b: Array[Byte], var pos: Int, end: Int) {
    private var acc = 0
    private var cnt = 0
    private var stopped = false

    def next(): Int = {
      if (cnt == 0) {
        if (stopped || pos >= end) return -1
        val v = b(pos) & 0xff
        if (v == 0xff) {
          if (pos + 1 >= end || (b(pos + 1) & 0xff) != 0x00) {
            stopped = true // a real marker terminates the entropy stream
            return -1
          }
          pos += 2
        } else pos += 1
        acc = v
        cnt = 8
      }
      cnt -= 1
      (acc >>> cnt) & 1
    }

    /** Discard partial-byte padding and consume the expected RSTn marker.
      * T.81 B.1.1.3 permits any number of 0xFF fill bytes before the marker
      * code, so skip runs of 0xFF down to the last one before matching.
      */
    def consumeRst(n: Int): Boolean = {
      cnt = 0
      stopped = false
      var p = pos
      while (p + 1 < end && (b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xff)
        p += 1
      if (p + 1 >= end || (b(p) & 0xff) != 0xff ||
          (b(p + 1) & 0xff) != (0xd0 + n)) return false
      pos = p + 2
      true
    }
  }

  private def decodeSym(br: BitReader, h: Huff): Int = {
    var bit = br.next()
    if (bit < 0) return -1
    var code = bit
    var l = 1
    while (code > h.maxcode(l)) {
      l += 1
      if (l > 16) return -1
      bit = br.next()
      if (bit < 0) return -1
      code = (code << 1) | bit
    }
    val idx = h.valptr(l) + code - h.mincode(l)
    if (idx < 0 || idx >= h.vals.length) -1 else h.vals(idx)
  }

  /** RECEIVE (F.2.2.4): read `s` magnitude bits; Int.MinValue on stream end. */
  private def receive(br: BitReader, s: Int): Int = {
    var v = 0
    var i = 0
    while (i < s) {
      val bit = br.next()
      if (bit < 0) return Int.MinValue
      v = (v << 1) | bit
      i += 1
    }
    v
  }

  /** EXTEND (F.2.2.1): map the s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private final class Component(val id: Int, var h: Int, var v: Int, val tq: Int) {
    var dcTab = 0
    var acTab = 0
    var plane: Array[Byte] = _
    var stride = 0
    var dcPred = 0
  }

  /** Successful parse: image dims plus per-component sample planes (padded
    * to whole MCUs; consumers crop to w×h).
    */
  private final class Parsed(val w: Int, val h: Int, val comps: Array[Component],
      val hmax: Int, val vmax: Int)

  /** Header-established facts carried through an honest refusal. */
  private final class Refusal(val w: Long, val h: Long, val ncomp: Long) {
    def known: Boolean = w > 0 && h > 0
  }

  private val NoDims = new Refusal(-1, -1, -1)

  /** Parse + entropy-decode; returns [[Parsed]] on success, [[Refusal]]
    * otherwise, or null when the payload is not a JPEG at all.
    */
  private def parse(b: Array[Byte]): AnyRef = {
    val n = b.length
    if (n < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null

    def u(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u(i) << 8) | u(i + 1)

    val qt = new Array[Array[Int]](4) // zigzag order, as transmitted
    val dcHuff = new Array[Huff](4)
    val acHuff = new Array[Huff](4)
    var w = 0; var h = 0
    var comps: Array[Component] = null
    var dri = 0
    var progressive = false
    var prog: ProgState = null

    var i = 2
    while (true) {
      if (i + 2 > n) return NoDims
      if (u(i) != 0xff) return NoDims
      var m = u(i + 1)
      i += 2
      // fill bytes: any number of 0xFF may precede a marker
      while (m == 0xff && i < n) { m = u(i); i += 1 }
      m match {
        case 0x01 => // TEM, standalone
        case x if x >= 0xd0 && x <= 0xd7 => // stray RSTn outside a scan
        case 0xd9 => // EOI: progressive completion point, else no image data
          if (prog != null) {
            // a complete progressive file covered DC and all of AC 1..63
            // for every component (bit k of acMask = coefficient k saw an
            // Ah=0 scan); anything less is a truncated scan script
            var x = 0
            while (x < prog.comps.length) {
              if (!prog.dcSeen(x) || prog.acMask(x) != -1L)
                return new Refusal(w, h, comps.length)
              x += 1
            }
            val fin = finishProgressive(prog, qt, w, h)
            return if (fin != null) fin else new Refusal(w, h, comps.length)
          }
          return refusalOr(comps, w, h)
        case 0xc0 | 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
             0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          // every SOFn shares the header layout: record dims, then refuse
          // the families this decoder does not implement
          if (i + 2 > n) return NoDims
          val len = be16(i)
          if (len < 8 || i + len > n) return NoDims
          val precision = u(i + 2)
          h = be16(i + 3)
          w = be16(i + 5)
          val nc = u(i + 7)
          if (m != 0xc0 && m != 0xc1 && m != 0xc2) // lossless/arithmetic/hier.
            return new Refusal(w, h, nc)
          progressive = m == 0xc2
          if (comps != null) return new Refusal(w, h, nc) // second frame
          if (precision != 8 || (nc != 1 && nc != 3) || w <= 0 || h <= 0 ||
              len != 8 + 3 * nc)
            return new Refusal(w, h, nc)
          comps = new Array[Component](nc)
          var c = 0
          while (c < nc) {
            val off = i + 8 + 3 * c
            val samp = u(off + 1)
            val ch = samp >> 4
            val cv = samp & 0x0f
            val tq = u(off + 2)
            if (ch < 1 || ch > 4 || cv < 1 || cv > 4 || tq > 3)
              return new Refusal(w, h, nc)
            comps(c) = new Component(u(off), ch, cv, tq)
            c += 1
          }
          i += len
        case 0xc4 => // DHT: one or more tables per segment
          if (i + 2 > n) return refusalOr(comps, w, h)
          val len = be16(i)
          if (i + len > n) return refusalOr(comps, w, h)
          var p = i + 2
          val segEnd = i + len
          while (p < segEnd) {
            if (p + 17 > segEnd) return refusalOr(comps, w, h)
            val tc = u(p) >> 4
            val th = u(p) & 0x0f
            if (tc > 1 || th > 3) return refusalOr(comps, w, h)
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = u(p + l); total += bits(l); l += 1 }
            if (total > 256 || p + 17 + total > segEnd)
              return refusalOr(comps, w, h)
            val vals = new Array[Int](total)
            var k = 0
            while (k < total) { vals(k) = u(p + 17 + k); k += 1 }
            val huff = buildHuff(bits, vals)
            if (huff == null) return refusalOr(comps, w, h)
            if (tc == 0) dcHuff(th) = huff else acHuff(th) = huff
            p += 17 + total
          }
          i += len
        case 0xdb => // DQT: one or more tables per segment
          if (i + 2 > n) return refusalOr(comps, w, h)
          val len = be16(i)
          if (i + len > n) return refusalOr(comps, w, h)
          var p = i + 2
          val segEnd = i + len
          while (p < segEnd) {
            val pq = u(p) >> 4
            val tq = u(p) & 0x0f
            if (pq != 0 || tq > 3 || p + 65 > segEnd) // 16-bit tables: refuse
              return refusalOr(comps, w, h)
            val tab = new Array[Int](64)
            var k = 0
            while (k < 64) { tab(k) = u(p + 1 + k); k += 1 }
            qt(tq) = tab
            p += 65
          }
          i += len
        case 0xdd => // DRI
          if (i + 2 > n || be16(i) != 4 || i + 4 > n)
            return refusalOr(comps, w, h)
          dri = be16(i + 2)
          i += 4
        case 0xda => // SOS
          if (comps == null || i + 2 > n) return refusalOr(comps, w, h)
          val len = be16(i)
          if (i + len > n) return new Refusal(w, h, comps.length)
          if (progressive) {
            if (prog == null) prog = ProgState.alloc(comps, w, h)
            if (prog == null) return new Refusal(w, h, comps.length)
            val nxt = progressiveScan(b, i, len, n, prog, dcHuff, acHuff, dri)
            if (nxt < 0) return new Refusal(w, h, comps.length)
            i = nxt
          } else {
          val ns = u(i + 2)
          if (ns != comps.length || len != 6 + 2 * ns)
            return new Refusal(w, h, comps.length) // partial scan = multi-scan file
          var c = 0
          while (c < ns) {
            val cid = u(i + 3 + 2 * c)
            val tabs = u(i + 4 + 2 * c)
            val comp = comps.find(_.id == cid).orNull
            if (comp == null) return new Refusal(w, h, comps.length)
            // Td/Ta are 4-bit fields but only tables 0-3 exist (T.81 B.2.3);
            // an out-of-range selector refuses here rather than indexing
            // past dcHuff/acHuff in decodeScan
            if ((tabs >> 4) > 3 || (tabs & 0x0f) > 3)
              return new Refusal(w, h, comps.length)
            comp.dcTab = tabs >> 4
            comp.acTab = tabs & 0x0f
            c += 1
          }
          // spectral selection / successive approximation: baseline values only
          if (u(i + 3 + 2 * ns) != 0 || u(i + 4 + 2 * ns) != 63 ||
              u(i + 5 + 2 * ns) != 0)
            return new Refusal(w, h, comps.length)
          return decodeScan(b, i + len, n, w, h, comps, qt, dcHuff, acHuff, dri)
          }
        case _ => // APPn, COM, DNL, anything else with a length: skip
          if (i + 2 > n) return refusalOr(comps, w, h)
          val len = be16(i)
          if (len < 2 || i + len > n) return refusalOr(comps, w, h)
          i += len
      }
    }
    NoDims // unreachable
  }

  private def refusalOr(comps: Array[Component], w: Int, h: Int): Refusal =
    if (comps != null) new Refusal(w, h, comps.length)
    else NoDims

  private def decodeScan(b: Array[Byte], start: Int, end: Int, w: Int, h: Int,
      comps: Array[Component], qt: Array[Array[Int]],
      dcHuff: Array[Huff], acHuff: Array[Huff], dri: Int): AnyRef = {
    val refusal = new Refusal(w, h, comps.length)
    // a single-component scan is non-interleaved per T.81: its MCU is one
    // data unit regardless of declared sampling factors, which is exactly
    // the 1×1 geometry — normalize so the block grid is ceil(w/8)×ceil(h/8)
    if (comps.length == 1) { comps(0).h = 1; comps(0).v = 1 }
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    if (comps.map(c => c.h * c.v).sum > 10) return refusal // T.81 B.2.3 bound
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    var planeBytes = 0L
    for (c <- comps) {
      if (qt(c.tq) == null || dcHuff(c.dcTab) == null || acHuff(c.acTab) == null)
        return refusal // referenced table never defined
      c.stride = mcusX * c.h * 8
      planeBytes += c.stride.toLong * (mcusY * c.v * 8).toLong
    }
    if (planeBytes > MaxPlaneBytes) return refusal
    for (c <- comps) c.plane = new Array[Byte](c.stride * mcusY * c.v * 8)

    val br = new BitReader(b, start, end)
    val coef = new Array[Int](64)
    val pix = new Array[Int](64)
    var rst = 0
    var m = 0
    val nMcus = mcusX * mcusY
    while (m < nMcus) {
      if (dri > 0 && m > 0 && m % dri == 0) {
        if (!br.consumeRst(rst)) return refusal
        rst = (rst + 1) % 8
        for (c <- comps) c.dcPred = 0
      }
      val mx = m % mcusX
      val my = m / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qt(c.tq)
        val dc = dcHuff(c.dcTab)
        val ac = acHuff(c.acTab)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            // DC (F.2.2.1)
            val t = decodeSym(br, dc)
            if (t < 0 || t > 11) return refusal
            val dv = receive(br, t)
            if (dv == Int.MinValue) return refusal
            c.dcPred += extend(dv, t)
            coef(0) = c.dcPred * q(0)
            // AC (F.2.2.2)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = decodeSym(br, ac)
              if (rs < 0) return refusal
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                if (k > 63) return refusal
                val av = receive(br, s)
                if (av == Int.MinValue) return refusal
                coef(Zigzag(k)) = extend(av, s) * q(k)
                k += 1
              }
            }
            idct(coef, pix)
            // place the block into the component plane
            val px0 = (mx * c.h + bx) * 8
            val py0 = (my * c.v + by) * 8
            var y = 0
            while (y < 8) {
              val off = (py0 + y) * c.stride + px0
              var x = 0
              while (x < 8) { c.plane(off + x) = pix(y * 8 + x).toByte; x += 1 }
              y += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      m += 1
    }
    new Parsed(w, h, comps, hmax, vmax)
  }

  /** Progressive-mode state (T.81 Annex G): per-component full-MCU-grid
    * coefficient stores accumulated across scans, plus the coverage
    * bookkeeping that makes refusals honest. `bw` = padded width in blocks
    * (interleaved-scan geometry); `nbw`/`nbh` = the component's own block
    * grid (non-interleaved-scan geometry, G.1: ceil(compDim/8)).
    */
  private final class ProgState(val comps: Array[Component], val mcusX: Int,
      val mcusY: Int, val hmax: Int, val vmax: Int,
      val coefs: Array[Array[Int]], val bw: Array[Int],
      val nbw: Array[Int], val nbh: Array[Int]) {
    val dcSeen = new Array[Boolean](comps.length)
    /** Bit k set = zigzag coefficient k received its Ah=0 (first) scan. */
    val acMask = new Array[Long](comps.length)
  }

  private object ProgState {
    /** null on geometry/size refusal. */
    def alloc(comps: Array[Component], w: Int, h: Int): ProgState = {
      // single-component files are non-interleaved throughout: sampling
      // factors do not apply (same normalization as the baseline path)
      if (comps.length == 1) { comps(0).h = 1; comps(0).v = 1 }
      val hmax = comps.map(_.h).max
      val vmax = comps.map(_.v).max
      if (comps.map(c => c.h * c.v).sum > 10) return null // T.81 B.2.3 bound
      val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
      val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
      val nc = comps.length
      val bw = new Array[Int](nc)
      val nbw = new Array[Int](nc)
      val nbh = new Array[Int](nc)
      var coefBytes = 0L
      var x = 0
      while (x < nc) {
        val c = comps(x)
        bw(x) = mcusX * c.h
        nbw(x) = (w * c.h + 8 * hmax - 1) / (8 * hmax)
        nbh(x) = (h * c.v + 8 * vmax - 1) / (8 * vmax)
        coefBytes += bw(x).toLong * (mcusY * c.v).toLong * 64L * 4L
        x += 1
      }
      if (coefBytes > MaxPlaneBytes) return null // same operational ceiling
      val coefs = Array.tabulate(nc)(x =>
        new Array[Int](bw(x) * mcusY * comps(x).v * 64))
      new ProgState(comps, mcusX, mcusY, hmax, vmax, coefs, bw, nbw, nbh)
    }
  }

  /** AC first scan for one block (G.1.2.2): run/size coding with EOB runs.
    * Returns the updated EOB-run count, or Int.MinValue on failure.
    */
  private def acFirstBlock(br: BitReader, h: Huff, coef: Array[Int], off: Int,
      ss: Int, se: Int, al: Int, eobrunIn: Int): Int = {
    if (eobrunIn > 0) return eobrunIn - 1 // block is entirely inside the run
    var eobrun = 0
    var k = ss
    while (k <= se) {
      val rs = decodeSym(br, h)
      if (rs < 0) return Int.MinValue
      val r = rs >> 4
      val s = rs & 0x0f
      if (s == 0) {
        if (r < 15) { // EOBn: run of (1<<r)+ext blocks including this one
          eobrun = (1 << r) - 1
          if (r > 0) {
            val e = receive(br, r)
            if (e == Int.MinValue) return Int.MinValue
            eobrun += e
          }
          return eobrun
        }
        k += 16 // ZRL
      } else {
        k += r
        if (k > se) return Int.MinValue
        val v = receive(br, s)
        if (v == Int.MinValue) return Int.MinValue
        coef(off + Zigzag(k)) = extend(v, s) << al
        k += 1
      }
    }
    eobrun
  }

  /** AC refinement scan for one block (G.1.2.3): one correction bit per
    * already-nonzero coefficient, newly-significant coefficients at ±2^Al.
    * Returns the updated EOB-run count, or Int.MinValue on failure.
    */
  private def acRefineBlock(br: BitReader, h: Huff, coef: Array[Int], off: Int,
      ss: Int, se: Int, al: Int, eobrunIn: Int): Int = {
    val p1 = 1 << al
    val m1 = -1 << al
    var eobrun = eobrunIn
    var k = ss

    // correction bits for every nonzero-history coefficient in k..se
    def sweep(): Boolean = {
      while (k <= se) {
        val pos = off + Zigzag(k)
        if (coef(pos) != 0) {
          val bit = br.next()
          if (bit < 0) return false
          if (bit == 1 && (coef(pos) & p1) == 0)
            coef(pos) += (if (coef(pos) >= 0) p1 else m1)
        }
        k += 1
      }
      true
    }

    if (eobrun > 0) {
      eobrun -= 1
      if (!sweep()) return Int.MinValue
      return eobrun
    }
    var eob = false
    while (k <= se && !eob) {
      val rs = decodeSym(br, h)
      if (rs < 0) return Int.MinValue
      var r = rs >> 4
      val s = rs & 0x0f
      var newVal = 0
      if (s == 0) {
        if (r < 15) {
          eobrun = (1 << r) - 1
          if (r > 0) {
            val e = receive(br, r)
            if (e == Int.MinValue) return Int.MinValue
            eobrun += e
          }
          eob = true
        }
        // r == 15 (ZRL): skip 16 zero-history coefficients via the walk
      } else {
        if (s != 1) return Int.MinValue // refinement sends 1-bit magnitudes
        val bit = br.next()
        if (bit < 0) return Int.MinValue
        newVal = if (bit == 1) p1 else m1
      }
      if (!eob) {
        // walk: correct nonzero history, count r zero-history slots, place
        var placed = false
        while (k <= se && !placed) {
          val pos = off + Zigzag(k)
          if (coef(pos) != 0) {
            val bit = br.next()
            if (bit < 0) return Int.MinValue
            if (bit == 1 && (coef(pos) & p1) == 0)
              coef(pos) += (if (coef(pos) >= 0) p1 else m1)
          } else {
            if (r == 0) { if (newVal != 0) coef(pos) = newVal; placed = true }
            else r -= 1
          }
          k += 1
        }
        if (!placed && newVal != 0) return Int.MinValue // ran off the band
      }
    }
    if (eob && !sweep()) return Int.MinValue
    eobrun
  }

  /** Parse + entropy-decode one progressive scan starting at the SOS length
    * field. Returns the offset of the next marker's 0xFF byte, or -1 on any
    * violation (the caller refuses the image).
    */
  private def progressiveScan(b: Array[Byte], i: Int, len: Int, n: Int,
      st: ProgState, dcHuff: Array[Huff], acHuff: Array[Huff],
      dri: Int): Int = {
    def u(x: Int): Int = b(x) & 0xff
    val ns = u(i + 2)
    if (ns < 1 || ns > st.comps.length || len != 6 + 2 * ns) return -1
    val sidx = new Array[Int](ns)
    var c = 0
    while (c < ns) {
      val cid = u(i + 3 + 2 * c)
      val tabs = u(i + 4 + 2 * c)
      val idx = st.comps.indexWhere(_.id == cid)
      if (idx < 0 || (tabs >> 4) > 3 || (tabs & 0x0f) > 3) return -1
      st.comps(idx).dcTab = tabs >> 4
      st.comps(idx).acTab = tabs & 0x0f
      sidx(c) = idx
      c += 1
    }
    if (sidx.distinct.length != ns) return -1
    val ss = u(i + 3 + 2 * ns)
    val se = u(i + 4 + 2 * ns)
    val ah = u(i + 5 + 2 * ns) >> 4
    val al = u(i + 5 + 2 * ns) & 0x0f
    if (ah > 13 || al > 13) return -1
    if (ah != 0 && ah != al + 1) return -1 // refinement moves one bit
    val isDC = ss == 0
    if (isDC && se != 0) return -1 // G.1: a DC scan carries only DC
    if (!isDC && (ns != 1 || ss > se || se > 63)) return -1
    // coverage/progression bookkeeping — refuse double-first and
    // refine-before-first rather than decode garbage
    if (isDC) {
      var x = 0
      while (x < ns) {
        val ci = sidx(x)
        if (ah == 0) {
          if (st.dcSeen(ci)) return -1
          if (dcHuff(st.comps(ci).dcTab) == null) return -1
          st.dcSeen(ci) = true
          st.acMask(ci) |= 1L
        } else if (!st.dcSeen(ci)) return -1
        x += 1
      }
    } else {
      val ci = sidx(0)
      val hi = if (se == 63) -1L else (1L << (se + 1)) - 1L
      val band = hi & ~((1L << ss) - 1L)
      if (ah == 0) {
        if ((st.acMask(ci) & band) != 0L) return -1
        st.acMask(ci) |= band
      } else if ((st.acMask(ci) & band) != band) return -1
      if (acHuff(st.comps(ci).acTab) == null) return -1
    }

    val br = new BitReader(b, i + len, n)
    var eobrun = 0
    var rst = 0
    if (isDC && ns > 1) { // interleaved DC scan over the MCU grid
      var x = 0
      while (x < ns) { st.comps(sidx(x)).dcPred = 0; x += 1 }
      val nM = st.mcusX * st.mcusY
      var m = 0
      while (m < nM) {
        if (dri > 0 && m > 0 && m % dri == 0) {
          if (!br.consumeRst(rst)) return -1
          rst = (rst + 1) % 8
          var y = 0
          while (y < ns) { st.comps(sidx(y)).dcPred = 0; y += 1 }
        }
        val mx = m % st.mcusX
        val my = m / st.mcusX
        var cc = 0
        while (cc < ns) {
          val ci = sidx(cc)
          val comp = st.comps(ci)
          val coef = st.coefs(ci)
          var by = 0
          while (by < comp.v) {
            var bx = 0
            while (bx < comp.h) {
              val off = ((my * comp.v + by) * st.bw(ci) +
                (mx * comp.h + bx)) * 64
              if (ah == 0) {
                val t = decodeSym(br, dcHuff(comp.dcTab))
                if (t < 0 || t > 11) return -1
                val dv = receive(br, t)
                if (dv == Int.MinValue) return -1
                comp.dcPred += extend(dv, t)
                coef(off) = comp.dcPred << al
              } else {
                val bit = br.next()
                if (bit < 0) return -1
                if (bit == 1) coef(off) |= (1 << al)
              }
              bx += 1
            }
            by += 1
          }
          cc += 1
        }
        m += 1
      }
    } else { // non-interleaved: one component's own block grid
      val ci = sidx(0)
      val comp = st.comps(ci)
      val coef = st.coefs(ci)
      comp.dcPred = 0
      val dcT = if (isDC && ah == 0) dcHuff(comp.dcTab) else null
      val acT = if (!isDC) acHuff(comp.acTab) else null
      val gw = st.nbw(ci)
      val nb = gw * st.nbh(ci)
      var m = 0
      while (m < nb) {
        if (dri > 0 && m > 0 && m % dri == 0) {
          if (!br.consumeRst(rst)) return -1
          rst = (rst + 1) % 8
          comp.dcPred = 0
          eobrun = 0
        }
        val off = ((m / gw) * st.bw(ci) + m % gw) * 64
        if (isDC) {
          if (ah == 0) {
            val t = decodeSym(br, dcT)
            if (t < 0 || t > 11) return -1
            val dv = receive(br, t)
            if (dv == Int.MinValue) return -1
            comp.dcPred += extend(dv, t)
            coef(off) = comp.dcPred << al
          } else {
            val bit = br.next()
            if (bit < 0) return -1
            if (bit == 1) coef(off) |= (1 << al)
          }
        } else {
          eobrun =
            if (ah == 0) acFirstBlock(br, acT, coef, off, ss, se, al, eobrun)
            else acRefineBlock(br, acT, coef, off, ss, se, al, eobrun)
          if (eobrun == Int.MinValue) return -1
        }
        m += 1
      }
    }
    // realign: pad bits then the next marker (skip stuffed FF00 and fills)
    var p = br.pos
    while (p + 1 < n && !((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) != 0x00 &&
        (b(p + 1) & 0xff) != 0xff))
      p += 1
    if (p + 1 >= n) return -1
    p
  }

  /** Dequantize + IDCT every accumulated block into sample planes; null on
    * a missing quantization table or an over-budget plane.
    */
  private def finishProgressive(st: ProgState, qt: Array[Array[Int]],
      w: Int, h: Int): Parsed = {
    var planeBytes = 0L
    for (c <- st.comps) {
      if (qt(c.tq) == null) return null
      c.stride = st.mcusX * c.h * 8
      planeBytes += c.stride.toLong * (st.mcusY * c.v * 8).toLong
    }
    if (planeBytes > MaxPlaneBytes) return null
    val nat = new Array[Int](64)
    val pix = new Array[Int](64)
    var ci = 0
    while (ci < st.comps.length) {
      val c = st.comps(ci)
      c.plane = new Array[Byte](c.stride * st.mcusY * c.v * 8)
      val q = qt(c.tq)
      val coef = st.coefs(ci)
      val bwF = st.bw(ci)
      val bhF = st.mcusY * c.v
      var by = 0
      while (by < bhF) {
        var bx = 0
        while (bx < bwF) {
          val off = (by * bwF + bx) * 64
          var k = 0
          while (k < 64) { // q is in zigzag (transmission) order
            val pos = Zigzag(k)
            nat(pos) = coef(off + pos) * q(k)
            k += 1
          }
          idct(nat, pix)
          var y = 0
          while (y < 8) {
            val po = (by * 8 + y) * c.stride + bx * 8
            var x = 0
            while (x < 8) { c.plane(po + x) = pix(y * 8 + x).toByte; x += 1 }
            y += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    new Parsed(w, h, st.comps, st.hmax, st.vmax)
  }

  /** Separable double-precision inverse DCT (T.81 A.3.3) + level shift +
    * clamp. `coef` is in natural order, already dequantized.
    */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) { // horizontal pass per coefficient row
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Cos(u)(x) * coef(v * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) { // vertical pass
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += Cos(vv)(y) * tmp(vv * 8 + x); vv += 1 }
        val p = Math.round(s).toInt + 128
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
  }

  private def clamp255(v: Long): Int =
    if (v < 0) 0 else if (v > 255) 255 else v.toInt

  /** JFIF YCbCr→RGB, rounded half-up like the forward spec's inverse. */
  private def toRgb(yv: Int, cb: Int, cr: Int): (Int, Int, Int) = (
    clamp255(Math.round(yv + 1.402 * (cr - 128))),
    clamp255(Math.round(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))),
    clamp255(Math.round(yv + 1.772 * (cb - 128))))

  /** Decoded interleaved-RGB view for tests (parity vs the JDK's ImageIO
    * reader); the production path sums in place and never materializes it.
    */
  final class Decoded(val width: Int, val height: Int, val components: Int,
      val rgb: Array[Byte])

  /** Test-visible full decode; null when the payload refuses. */
  def decodePixels(b: Array[Byte]): Decoded = parse(b) match {
    case p: Parsed =>
      val out = new Array[Byte](p.w * p.h * 3)
      val c0 = p.comps(0)
      var y = 0
      while (y < p.h) {
        var x = 0
        while (x < p.w) {
          val o = (y * p.w + x) * 3
          val yy = c0.plane((y * c0.v / p.vmax) * c0.stride + x * c0.h / p.hmax) & 0xff
          if (p.comps.length == 1) {
            out(o) = yy.toByte; out(o + 1) = yy.toByte; out(o + 2) = yy.toByte
          } else {
            val c1 = p.comps(1); val c2 = p.comps(2)
            val cb = c1.plane((y * c1.v / p.vmax) * c1.stride + x * c1.h / p.hmax) & 0xff
            val cr = c2.plane((y * c2.v / p.vmax) * c2.stride + x * c2.h / p.hmax) & 0xff
            val (r, g, bl) = toRgb(yy, cb, cr)
            out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = bl.toByte
          }
          x += 1
        }
        y += 1
      }
      new Decoded(p.w, p.h, p.comps.length, out)
    case _ => null
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def decode(b: Array[Byte]): InternalRow = parse(b) match {
    case null => row("unknown", nulls.clone())
    case r: Refusal =>
      if (!r.known) row("jpeg", nulls.clone())
      else row("jpeg", Array[Any](r.w, r.h, r.ncomp, r.w * r.h, null, null, null))
    case p: Parsed =>
      var sr = 0L; var sg = 0L; var sb = 0L
      val c0 = p.comps(0)
      var y = 0
      while (y < p.h) {
        val yOff = (y * c0.v / p.vmax) * c0.stride
        var x = 0
        while (x < p.w) {
          val yy = c0.plane(yOff + x * c0.h / p.hmax) & 0xff
          if (p.comps.length == 1) sr += yy
          else {
            val c1 = p.comps(1); val c2 = p.comps(2)
            val cb = c1.plane((y * c1.v / p.vmax) * c1.stride + x * c1.h / p.hmax) & 0xff
            val cr = c2.plane((y * c2.v / p.vmax) * c2.stride + x * c2.h / p.hmax) & 0xff
            val (r, g, bl) = toRgb(yy, cb, cr)
            sr += r; sg += g; sb += bl
          }
          x += 1
        }
        y += 1
      }
      if (p.comps.length == 1) { sg = sr; sb = sr }
      row("jpeg", Array[Any](p.w.toLong, p.h.toLong, p.comps.length.toLong,
        p.w.toLong * p.h, sr, sg, sb))
  }

  def apply(c: Column): Column =
    GraftBridge.column(JpegFeatures(GraftBridge.expression(c)))
}
