package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** ISO-BMFF SAMPLE-TABLE walk (ISO/IEC 14496-12 §8.5-8.7) — the next
  * increment of [[Mp4Features]]'s no-codec discipline: descend each
  * `trak`/`mdia`/`minf`/`stbl` and read the four sample tables that fully
  * describe a track's media layout without touching a single media byte:
  *
  *  - `stsz` (§8.7.3): per-sample byte sizes (constant `sample_size` or an
  *    explicit table) → sample_count, total_bytes, avg_sample_bytes;
  *  - `stts` (§8.6.1.2): (count, delta) runs in media-timescale ticks →
  *    track duration (with `mdhd`'s timescale, §8.4.2);
  *  - `stsc` (§8.7.4): (first_chunk, samples_per_chunk) runs mapping
  *    samples into chunks;
  *  - `stco`/`co64` (§8.7.5): chunk byte offsets into the file.
  *
  * These tables are mutually REDUNDANT, which is what makes an honest
  * refusal possible: stts's run counts must sum to stsz's sample_count,
  * stsc's chunk runs (closed by stco's chunk count) must distribute exactly
  * sample_count samples, stsc's first_chunk sequence must start at 1 and
  * strictly increase within stco's chunk count, and every chunk offset must
  * lie inside the file. Any contradiction — and any top-level `moof`
  * (fragmented streams keep their sample tables in movie fragments; the
  * moov-level tables are then legitimately empty and a walk of them would
  * MISREAD an empty inventory as truth) — refuses the whole file: format
  * "mp4" with the brand intact and a null `tracks` array, never a number
  * that merely looks plausible. A first box that is not a well-formed
  * `ftyp` yields "unknown" ([[Mp4Features]]'s contract).
  *
  * Per track: (trak_idx, handler, timescale, sample_count, duration_ms,
  * total_bytes, avg_sample_bytes, chunk_count) — duration_ms and
  * avg_sample_bytes in floor integer arithmetic (cross-engine exact). One
  * codegen'd per-row call in the scan stage; media payloads never shuffle.
  *
  * Reference behavior surface: jwodder/logsdb stores opaque bodies and
  * never decodes media; this operator belongs to the training-data
  * pipeline family (SURVEY.md §2, multimodal) — the per-track sample
  * inventory is what a 100 TB video-ingest pipeline filters on before
  * sizing any transcode fleet.
  */
case class Mp4SampleTables(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = Mp4SampleTables.schema

  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(BinaryType)

  override protected def nullSafeEval(input: Any): Any =
    Mp4SampleTables.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Mp4SampleTables.decode($c)")

  override protected def withNewChildInternal(newChild: Expression): Mp4SampleTables =
    copy(child = newChild)

  override def prettyName: String = "mp4_sample_tables"
}

object Mp4SampleTables {
  import Mp4Features.{parseBox, findChild, u32, u64, FTYP, MOOV, TRAK, MDIA, HDLR}

  val trackSchema: StructType = StructType(Seq(
    StructField("trak_idx", LongType, nullable = false),
    StructField("handler", StringType, nullable = true),
    StructField("timescale", LongType, nullable = false),
    StructField("sample_count", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("avg_sample_bytes", LongType, nullable = false),
    StructField("chunk_count", LongType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("brand", StringType, nullable = true),
    StructField("tracks", ArrayType(trackSchema, containsNull = false),
      nullable = true)))

  private val MOOF = 0x6d6f6f66
  private val MINF = 0x6d696e66
  private val STBL = 0x7374626c
  private val MDHD = 0x6d646864
  private val STTS = 0x73747473
  private val STSC = 0x73747363
  private val STSZ = 0x7374737a
  private val STCO = 0x7374636f
  private val CO64 = 0x636f3634

  private def row(fmt: String, brand: Any, tracks: Any): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), brand, tracks))

  /** Static entry point shared by interpreted eval and generated code. */
  def decode(b: Array[Byte]): InternalRow = {
    val n = b.length
    val ftyp = parseBox(b, 0, n, topLevel = true)
    if (ftyp == null || ftyp.typ != FTYP || ftyp.end - ftyp.payload < 8)
      return row("unknown", null, null)
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(
      b, ftyp.payload, ftyp.payload + 4))
    def refused: InternalRow = row("mp4", brand, null)
    // one pass over the top-level sequence: malformed header, missing moov,
    // or ANY moof (fragmented — the moov-level sample tables are then not
    // the sample inventory) refuses the file
    var moov: Mp4Features.Box = null
    var i = ftyp.end
    while (i < n) {
      val box = parseBox(b, i, n, topLevel = true)
      if (box == null) return refused
      if (box.typ == MOOF) return refused
      if (box.typ == MOOV && moov == null) moov = box
      i = box.end
    }
    if (moov == null) return refused

    val tracks = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var trakIdx = 0L
    var t = moov.payload
    while (t < moov.end) {
      val box = parseBox(b, t, moov.end, topLevel = false)
      if (box == null) return refused
      if (box.typ == TRAK) {
        val mdia = findChild(b, box.payload, box.end, MDIA)
        if (mdia == null) return refused
        // mdhd: media timescale (v0 at +12, v1 at +20 after 64-bit times)
        val mdhd = findChild(b, mdia.payload, mdia.end, MDHD)
        if (mdhd == null || mdhd.end - mdhd.payload < 4) return refused
        val mv = b(mdhd.payload) & 0xff
        val timescale =
          if (mv == 0 && mdhd.end - mdhd.payload >= 24) u32(b, mdhd.payload + 12)
          else if (mv == 1 && mdhd.end - mdhd.payload >= 36) u32(b, mdhd.payload + 20)
          else return refused
        if (timescale <= 0) return refused
        val hdlr = findChild(b, mdia.payload, mdia.end, HDLR)
        val handler: Any =
          if (hdlr != null && hdlr.end - hdlr.payload >= 12)
            UTF8String.fromBytes(java.util.Arrays.copyOfRange(
              b, hdlr.payload + 8, hdlr.payload + 12))
          else null
        val minf = findChild(b, mdia.payload, mdia.end, MINF)
        if (minf == null) return refused
        val stbl = findChild(b, minf.payload, minf.end, STBL)
        if (stbl == null) return refused

        // ---- stsz: sample count + byte sizes ----
        val stsz = findChild(b, stbl.payload, stbl.end, STSZ)
        if (stsz == null || stsz.end - stsz.payload < 12) return refused
        val constSize = u32(b, stsz.payload + 4)
        val sampleCount = u32(b, stsz.payload + 8)
        if (sampleCount <= 0 || sampleCount > (1L << 24)) return refused
        var totalBytes = 0L
        if (constSize != 0) totalBytes = constSize * sampleCount
        else {
          if (stsz.end - stsz.payload < 12 + 4 * sampleCount) return refused
          var j = 0
          while (j < sampleCount) {
            totalBytes += u32(b, stsz.payload + 12 + 4 * j)
            j += 1
          }
        }

        // ---- stts: duration ticks; run counts must sum to sample_count ----
        val stts = findChild(b, stbl.payload, stbl.end, STTS)
        if (stts == null || stts.end - stts.payload < 8) return refused
        val ne = u32(b, stts.payload + 4)
        if (ne < 0 || stts.end - stts.payload < 8 + 8 * ne) return refused
        var ticks = 0L
        var sttsSamples = 0L
        var e = 0
        while (e < ne) {
          val cnt = u32(b, stts.payload + 8 + 8 * e)
          val delta = u32(b, stts.payload + 12 + 8 * e)
          sttsSamples += cnt
          ticks += cnt * delta
          e += 1
        }
        if (sttsSamples != sampleCount) return refused // contradictory
        // Per-track magnitude cap (r17 ADVICE): sampleCount ≤ 2²⁴ and u32
        // sizes/deltas bound each total below 2⁵⁶ — no wrap HERE, but
        // `ticks × 1000` in the render wraps past 2⁵³, and cross-track
        // per-asset sums (LogStream.mediaDecorations) wrap once a few
        // tracks carry 2⁵⁶-scale totals. 2⁵³ keeps ticks×1000 < 2⁶³ and
        // makes any sum of ≤ 1024 capped tracks wrap-free; a file
        // claiming more is refused like any other implausible inventory.
        if (totalBytes > Mp4FragmentTables.TrackCap ||
            ticks > Mp4FragmentTables.TrackCap) return refused

        // ---- stco/co64: chunk count + offsets, bounds-checked ----
        val stco = findChild(b, stbl.payload, stbl.end, STCO)
        val co64 = if (stco == null) findChild(b, stbl.payload, stbl.end, CO64) else null
        val (coBox, width) = if (stco != null) (stco, 4) else (co64, 8)
        if (coBox == null || coBox.end - coBox.payload < 8) return refused
        val chunkCount = u32(b, coBox.payload + 4)
        if (chunkCount <= 0 ||
            coBox.end - coBox.payload < 8 + width.toLong * chunkCount)
          return refused
        var c = 0
        while (c < chunkCount) {
          val off =
            if (width == 4) u32(b, coBox.payload + 8 + 4 * c)
            else u64(b, coBox.payload + 8 + 8 * c)
          if (off < 0 || off >= n) return refused // offset outside the file
          c += 1
        }

        // ---- stsc: chunk runs must distribute exactly sample_count ----
        val stsc = findChild(b, stbl.payload, stbl.end, STSC)
        if (stsc == null || stsc.end - stsc.payload < 8) return refused
        val nsc = u32(b, stsc.payload + 4)
        if (nsc <= 0 || stsc.end - stsc.payload < 8 + 12 * nsc) return refused
        var derived = 0L
        var prevFirst = 0L
        var prevSpc = 0L
        var s = 0
        var ok = true
        while (s < nsc && ok) {
          val fc = u32(b, stsc.payload + 8 + 12 * s)
          val spc = u32(b, stsc.payload + 12 + 12 * s)
          if (s == 0) { if (fc != 1) ok = false }
          else if (fc <= prevFirst || fc > chunkCount) ok = false
          else derived += (fc - prevFirst) * prevSpc
          prevFirst = fc; prevSpc = spc
          s += 1
        }
        if (!ok) return refused
        derived += (chunkCount - prevFirst + 1) * prevSpc
        if (derived != sampleCount) return refused // contradictory

        tracks += new GenericInternalRow(Array[Any](
          trakIdx, handler, timescale, sampleCount,
          ticks * 1000L / timescale, totalBytes,
          totalBytes / sampleCount, chunkCount))
        trakIdx += 1
      }
      t = box.end
    }
    row("mp4", brand, new GenericArrayData(tracks.toArray[Any]))
  }

  def apply(c: Column): Column =
    GraftBridge.column(Mp4SampleTables(GraftBridge.expression(c)))
}
