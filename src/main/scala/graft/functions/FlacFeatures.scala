package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL sample-level decode of FLAC (RFC 9639) — the first COMPRESSED
  * audio codec here with a full lossless sample reconstruction, and the
  * proof that the from-spec decoder family extends to entropy-coded audio
  * the way [[JpegFeatures]] extended it to entropy-coded images. FLAC is
  * the one mainstream compressed codec that is fully ALGORITHMIC: Rice
  * codes, fixed polynomial predictors (binomial-coefficient recurrences),
  * and LPC whose coefficients travel IN the stream — there is no
  * counterpart of MP3's tabulated synthesis window or Layer II's
  * allocation tables anywhere in the format, so the whole decode path is
  * derivable from the public spec with zero invented constants (the
  * discipline that kept Layer II/III honestly refused in
  * [[MpegL1Samples]]).
  *
  * Implemented, all from the spec: `fLaC` magic; METADATA_BLOCK walk with
  * the mandatory leading STREAMINFO (rate 20 bits / channels 3 / bps 5 /
  * total-samples 36 at byte offsets 10..17 of its body) and declared-length
  * skip of every other block type; FIXED-blocking frames — 14-bit sync,
  * UTF-8-style coded frame number (must run sequentially from 0), block
  * size by generating formula (0001→192, 0010..0101→576·2^(n−2),
  * 1000..1111→256·2^(n−8)) or explicit 8/16-bit form; subframe types
  * CONSTANT, VERBATIM, FIXED orders 0-4 (reconstruction x[i] += Σ
  * (−1)^(j+1)·C(o,j)·x[i−j] — pure binomial), and LPC of any order
  * (in-stream quantized coefficients, precision 1..15 bits, non-negative
  * shift, 64-bit accumulation then arithmetic shift); wasted-bits unary
  * prefix with the left-shift restore; Rice residuals in both 4- and
  * 5-bit-parameter methods, partitioned (order p, first partition short by
  * the predictor order), with the all-ones escape to raw `r`-bit verbatim
  * residuals (r = 0 ⇒ all zeros); zigzag de-interleave; stereo
  * decorrelation left/side, right/side and mid/side ((mid<<1 | side&1) ±
  * side, both >> 1) with the side channel's +1 bit.
  *
  * Two fail-safe rules stand in for data this container cannot verify:
  *  - the frame header's ENUMERATED sample-rate / sample-size codes are
  *    accepted only when they AGREE with STREAMINFO (which the spec makes
  *    authoritative); a disagreement refuses. A misremembered enum entry
  *    can therefore only ever cause a refusal of a valid file — never a
  *    misread of an invalid one;
  *  - when STREAMINFO declares a nonzero total, the decoded sample count
  *    must equal it exactly, so a truncated-but-parseable stream refuses
  *    instead of reporting a short corpus.
  *
  * Honest refusals (null stats, header facts kept): variable blocking
  * strategy, > 2 channels, reserved block-size/sample-size/channel codes,
  * the invalid rate code 1111, reserved subframe types, LPC precision
  * escape 1111 or negative shift, reserved residual methods, a partition
  * order that does not divide the block size, non-sequential frame
  * numbers, truncation anywhere, or trailing garbage. CRC-8 (header) and
  * CRC-16 (frame) are read and skipped — the spec leaves verification to
  * the decoder's discretion, the [[MpegL1Samples]] precedent.
  *
  * Output: `struct<format, sample_rate, channels, bits, n_blocks,
  * n_samples, sum_ch0, sum_ch1, peak_abs>` — integer sums of the exactly
  * reconstructed PCM (lossless: these are THE original samples, which is
  * what makes the cross-codec WAV↔FLAC dedup of e07 possible), mono
  * reporting its channel in both slots ([[WavFeatures]]' convention). One
  * codegen'd per-row call in the scan stage; payloads never shuffle.
  *
  * Reference behavior surface: jwodder/logsdb stores opaque bodies and
  * never decodes media; this operator belongs to the training-data
  * pipeline family (SURVEY.md §2, multimodal).
  */
case class FlacFeatures(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = FlacFeatures.schema

  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(BinaryType)

  override protected def nullSafeEval(input: Any): Any =
    FlacFeatures.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FlacFeatures.decode($c)")

  override protected def withNewChildInternal(newChild: Expression): FlacFeatures =
    copy(child = newChild)

  override def prettyName: String = "flac_features"
}

object FlacFeatures {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("bits", LongType, nullable = true),
    StructField("n_blocks", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_ch0", LongType, nullable = true),
    StructField("sum_ch1", LongType, nullable = true),
    StructField("peak_abs", LongType, nullable = true)))

  private def row(fmt: String, vals: Array[Any]): InternalRow =
    new GenericInternalRow(UTF8String.fromString(fmt) +: vals)

  private val nulls: Array[Any] = Array.fill[Any](8)(null)

  /** Frame-header enumerated sample rates, codes 0001..1011. Validated
    * against STREAMINFO, never trusted on their own (scaladoc rule 1).
    */
  private val EnumRates: Array[Long] = Array(0L, 88200L, 176400L, 192000L,
    8000L, 16000L, 22050L, 24000L, 32000L, 44100L, 48000L, 96000L)

  /** Frame-header enumerated bits-per-sample, codes 001/010/100/101/110/111
    * (011 reserved). Validated against STREAMINFO, never trusted alone.
    */
  private val EnumBits: Array[Long] = Array(0L, 8L, 12L, 0L, 16L, 20L, 24L, 32L)

  /** Decoder state + accumulated stats; header fields survive a refusal. */
  private[functions] final class St {
    var rate: Long = -1L
    var channels: Long = -1L
    var bits: Long = -1L
    var total: Long = -1L
    var haveInfo = false
    var nBlocks = 0L
    var nSamples = 0L
    var s0 = 0L
    var s1 = 0L
    var peak = 0L
  }

  /** MSB-first bit reader (FLAC has no byte stuffing). `get` returns -1 on
    * stream end — unambiguous, values are < 2^33.
    */
  private final class Bits(b: Array[Byte], var pos: Int, end: Int) {
    private var cnt = 0
    private var acc = 0
    def get(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        if (cnt == 0) {
          if (pos >= end) return -1L
          acc = b(pos) & 0xff
          pos += 1
          cnt = 8
        }
        cnt -= 1
        v = (v << 1) | ((acc >>> cnt) & 1)
        i += 1
      }
      v
    }
    /** Two's-complement signed read; Long.MinValue on stream end. */
    def signed(n: Int): Long = {
      val u = get(n)
      if (u < 0) return Long.MinValue
      if (n > 0 && (u & (1L << (n - 1))) != 0) u - (1L << n) else u
    }
    /** Unary run of 0-bits terminated by a 1; -1 on stream end. */
    def unary(): Long = {
      var q = 0L
      var bit = get(1)
      while (bit == 0) { q += 1; bit = get(1) }
      if (bit < 0) -1L else q
    }
    def align(): Unit = { cnt = 0 }
  }

  /** Residual decode (partitioned Rice, both methods, escape) into
    * out[order..bs).
    */
  private def readResiduals(br: Bits, out: Array[Long], bs: Int,
      order: Int): Boolean = {
    val method = br.get(2)
    if (method != 0 && method != 1) return false // reserved
    val pbits = if (method == 0) 4 else 5
    val esc = (1 << pbits) - 1
    val pOrd = br.get(4).toInt
    if (pOrd < 0) return false
    val parts = 1 << pOrd
    if ((bs >> pOrd) << pOrd != bs) return false // must divide evenly
    var idx = order
    var part = 0
    while (part < parts) {
      var cnt = bs >> pOrd
      if (part == 0) cnt -= order
      if (cnt < 0) return false
      val param = br.get(pbits).toInt
      if (param < 0) return false
      if (param == esc) { // raw verbatim residuals at 5-bit width r
        val raw = br.get(5).toInt
        if (raw < 0) return false
        var k = 0
        while (k < cnt) {
          val v = if (raw == 0) 0L else br.signed(raw)
          if (v == Long.MinValue) return false
          out(idx) = v
          idx += 1
          k += 1
        }
      } else {
        var k = 0
        while (k < cnt) {
          val q = br.unary()
          if (q < 0) return false
          val rem = if (param == 0) 0L else br.get(param)
          if (rem < 0) return false
          val u = (q << param) | rem
          out(idx) = (u >>> 1) ^ -(u & 1L) // zigzag
          idx += 1
          k += 1
        }
      }
      part += 1
    }
    true
  }

  /** One channel's subframe into out[0..bs). `ebps0` includes the side
    * channel's +1 bit.
    */
  private def decodeSubframe(br: Bits, out: Array[Long], bs: Int,
      ebps0: Int): Boolean = {
    if (br.get(1) != 0) return false // mandatory zero pad bit
    val typ = br.get(6).toInt
    if (typ < 0) return false
    var wasted = 0
    val wflag = br.get(1)
    if (wflag < 0) return false
    if (wflag == 1) {
      val q = br.unary()
      if (q < 0 || q > 31) return false
      wasted = q.toInt + 1
    }
    val ebps = ebps0 - wasted
    if (ebps <= 0 || ebps > 33) return false
    if (typ == 0) { // CONSTANT
      val v = br.signed(ebps)
      if (v == Long.MinValue) return false
      var i = 0
      while (i < bs) { out(i) = v; i += 1 }
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < bs) {
        val v = br.signed(ebps)
        if (v == Long.MinValue) return false
        out(i) = v
        i += 1
      }
    } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) { // FIXED 0..4
      val order = typ & 0x07
      if (order > bs) return false
      var i = 0
      while (i < order) {
        val v = br.signed(ebps)
        if (v == Long.MinValue) return false
        out(i) = v
        i += 1
      }
      if (!readResiduals(br, out, bs, order)) return false
      // polynomial reconstruction: x[i] += Σ (−1)^(j+1)·C(order,j)·x[i−j]
      i = order
      while (i < bs) {
        order match {
          case 0 => ()
          case 1 => out(i) += out(i - 1)
          case 2 => out(i) += 2 * out(i - 1) - out(i - 2)
          case 3 => out(i) += 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
          case _ => out(i) += 4 * out(i - 1) - 6 * out(i - 2) +
            4 * out(i - 3) - out(i - 4)
        }
        i += 1
      }
    } else if ((typ & 0x20) != 0) { // LPC, order 1..32
      val order = (typ & 0x1f) + 1
      if (order > bs) return false
      var i = 0
      while (i < order) {
        val v = br.signed(ebps)
        if (v == Long.MinValue) return false
        out(i) = v
        i += 1
      }
      val precM1 = br.get(4).toInt
      if (precM1 < 0 || precM1 == 15) return false // 1111 invalid
      val prec = precM1 + 1
      val shift = br.signed(5)
      if (shift == Long.MinValue || shift < 0) return false // negative: spec-dead
      val coef = new Array[Long](order)
      i = 0
      while (i < order) {
        val c = br.signed(prec)
        if (c == Long.MinValue) return false
        coef(i) = c
        i += 1
      }
      if (!readResiduals(br, out, bs, order)) return false
      i = order
      while (i < bs) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coef(j) * out(i - 1 - j); j += 1 }
        out(i) += acc >> shift.toInt
        i += 1
      }
    } else return false // reserved subframe type
    if (wasted > 0) {
      var i = 0
      while (i < bs) { out(i) <<= wasted; i += 1 }
    }
    true
  }

  /** Shared walk: 0 = full decode, 1 = refusal after the magic (header
    * facts in `st` where readable), 2 = not a FLAC stream. When `win` is
    * non-null (the [[FlacDHash]] route) the 65 window energies are
    * accumulated from STREAMINFO's declared total, refusing streams whose
    * total is unknown (0) or under 65 samples.
    */
  private[functions] def run(b: Array[Byte], st: St,
      win: Array[Long]): Int = {
    val n = b.length
    if (n < 8 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C')
      return 2
    var i = 4
    var last = false
    var firstBlock = true
    while (!last) {
      if (i + 4 > n) return if (st.haveInfo) 1 else 2
      val h = b(i) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      if (typ == 127) return if (st.haveInfo) 1 else 2 // invalid type
      val len = ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) |
        (b(i + 3) & 0xff)
      val body = i + 4
      if (body + len > n) return if (st.haveInfo) 1 else 2
      if (firstBlock) {
        if (typ != 0 || len != 34) return 2 // STREAMINFO must lead
        def u(k: Int): Int = b(body + k) & 0xff
        st.rate = ((u(10) << 12) | (u(11) << 4) | (u(12) >> 4)).toLong
        st.channels = ((u(12) >> 1) & 0x7) + 1L
        st.bits = (((u(12) & 1) << 4) | (u(13) >> 4)) + 1L
        st.total = ((u(13) & 0x0f).toLong << 32) | (u(14).toLong << 24) |
          (u(15).toLong << 16) | (u(16).toLong << 8) | u(17).toLong
        st.haveInfo = true
        // rate 0 is forbidden by RFC 9639 §8.2 — but the magic matched and
        // STREAMINFO parsed, so this is a post-magic REFUSAL (format "flac",
        // header facts kept), not an unknown format (r9 ADVICE)
        if (st.rate == 0) return 1
      } else if (typ == 0) return 1 // duplicate STREAMINFO
      firstBlock = false
      i = body + len
    }
    val nch = st.channels.toInt
    val bps = st.bits.toInt
    if (nch > 2) return 1 // stats contract is 2 sum slots (wav parity)
    var wsize = 0L
    if (win != null) {
      if (st.total == 0 || st.total < 65) return 1
      wsize = st.total / 65
    }
    val ch0 = new Array[Long](65536)
    val ch1 = if (nch == 2) new Array[Long](65536) else null
    var fi = 0L
    var base = 0L
    while (i < n) {
      if (i + 5 > n) return 1
      if ((b(i) & 0xff) != 0xff || ((b(i + 1) & 0xff) & 0xfe) != 0xf8)
        return 1 // desync (also rejects reserved bit 15 ≠ 0)
      if ((b(i + 1) & 1) != 0) return 1 // variable blocking: refused
      val bsCode = (b(i + 2) >> 4) & 0xf
      val srCode = b(i + 2) & 0xf
      val chAsg = (b(i + 3) >> 4) & 0xf
      val ssCode = (b(i + 3) >> 1) & 0x7
      if ((b(i + 3) & 1) != 0) return 1 // reserved bit
      var p = i + 4
      // coded number: UTF-8-style, the sequential frame index here
      if (p >= n) return 1
      val c0 = b(p) & 0xff
      p += 1
      var extra = 0
      if (c0 >= 0x80) {
        var mask = 0x40
        while (mask != 0 && (c0 & mask) != 0) { extra += 1; mask >>= 1 }
        if (extra < 1 || extra > 6) return 1
      }
      var num =
        if (extra == 0) c0.toLong
        else (c0 & (0x7f >> (extra + 1))).toLong
      var e = 0
      while (e < extra) {
        if (p >= n) return 1
        val cb = b(p) & 0xff
        p += 1
        if ((cb & 0xc0) != 0x80) return 1
        num = (num << 6) | (cb & 0x3f)
        e += 1
      }
      if (num != fi) return 1 // fixed blocking: frame numbers sequential
      var bs = 0
      if (bsCode == 0) return 1 // reserved
      else if (bsCode == 1) bs = 192
      else if (bsCode >= 2 && bsCode <= 5) bs = 576 << (bsCode - 2)
      else if (bsCode == 6) {
        if (p >= n) return 1
        bs = (b(p) & 0xff) + 1
        p += 1
      } else if (bsCode == 7) {
        if (p + 1 >= n) return 1
        bs = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        p += 2
      } else bs = 256 << (bsCode - 8)
      // rate code: must agree with the authoritative STREAMINFO
      if (srCode == 12) {
        if (p >= n) return 1
        val khz = b(p) & 0xff
        p += 1
        if (khz * 1000L != st.rate) return 1
      } else if (srCode == 13) {
        if (p + 1 >= n) return 1
        val hz = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
        p += 2
        if (hz.toLong != st.rate) return 1
      } else if (srCode == 14) {
        if (p + 1 >= n) return 1
        val dhz = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
        p += 2
        if (dhz * 10L != st.rate) return 1
      } else if (srCode == 15) return 1 // invalid
      else if (srCode != 0 && EnumRates(srCode) != st.rate) return 1
      // sample-size code: same agree-or-refuse rule
      if (ssCode == 3) return 1 // reserved
      if (ssCode != 0 && EnumBits(ssCode) != st.bits) return 1
      // channel assignment
      var side = -1
      var mode = 0 // 0 independent, 1 L/S, 2 R/S, 3 M/S
      if (chAsg <= 7) { if (chAsg + 1 != nch) return 1 }
      else if (chAsg <= 10) {
        if (nch != 2) return 1
        mode = chAsg - 7
        side = if (chAsg == 9) 0 else 1
      } else return 1 // reserved
      if (p >= n) return 1
      p += 1 // CRC-8: verification optional per spec — skipped
      val br = new Bits(b, p, n)
      var ch = 0
      var ok = true
      while (ok && ch < nch) {
        val target = if (ch == 0) ch0 else ch1
        ok = decodeSubframe(br, target, bs,
          bps + (if (ch == side) 1 else 0))
        ch += 1
      }
      if (!ok) return 1
      br.align()
      if (br.get(16) < 0) return 1 // CRC-16: present, unverified
      i = br.pos
      var k = 0
      while (k < bs) {
        var v0 = ch0(k)
        var v1 = if (nch == 2) ch1(k) else 0L
        if (mode == 1) v1 = v0 - v1 // left/side
        else if (mode == 2) { val s = v0; v0 = v1 + s } // right/side
        else if (mode == 3) { // mid/side
          val s = v1
          val m = (v0 << 1) | (s & 1L)
          v0 = (m + s) >> 1
          v1 = (m - s) >> 1
        }
        st.s0 += v0
        val a0 = if (v0 < 0) -v0 else v0
        if (a0 > st.peak) st.peak = a0
        var en = a0
        if (nch == 2) {
          st.s1 += v1
          val a1 = if (v1 < 0) -v1 else v1
          if (a1 > st.peak) st.peak = a1
          en += a1
        }
        if (wsize > 0) {
          val w = (base + k) / wsize
          if (w < 65) win(w.toInt) += en
        }
        k += 1
      }
      base += bs
      st.nBlocks += 1
      st.nSamples += bs
      fi += 1
    }
    if (st.nBlocks == 0) return 1 // no audio frames
    if (st.total != 0 && st.nSamples != st.total) return 1 // truncated
    if (nch == 1) st.s1 = st.s0 // mono: one channel in both slots
    0
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def decode(b: Array[Byte]): InternalRow = {
    val st = new St
    run(b, st, null) match {
      case 2 => row("unknown", nulls.clone())
      case 1 =>
        if (!st.haveInfo) row("flac", nulls.clone())
        else row("flac", Array[Any](st.rate, st.channels, st.bits,
          null, null, null, null, null))
      case _ => row("flac", Array[Any](st.rate, st.channels, st.bits,
        st.nBlocks, st.nSamples, st.s0, st.s1, st.peak))
    }
  }

  def apply(c: Column): Column =
    GraftBridge.column(FlacFeatures(GraftBridge.expression(c)))
}
