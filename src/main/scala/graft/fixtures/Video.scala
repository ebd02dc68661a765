package graft.fixtures

import Bin._

/** The video-container fixtures: one `doc_id => payload` builder per
  * corpus. Every field derives from the doc_id formulas that the
  * `graft.EntryOps` `*Assets` scaladocs state and the DuckDB oracles
  * re-derive, so no oracle reads a byte built here. Sizes come from
  * [[Bin.box]]; the refusal branches that lie about a size (truncation,
  * to-EOF, largesize, out-of-file offsets) write it out explicitly.
  */
object Video {

  // --- pieces shared by the ISO-BMFF corpora ------------------------------

  private val brands = Array("isom", "mp42", "avc1")
  private val handlers = Array("vide", "soun", "text")

  /** `ftyp` with the brand cycle, or a same-size `free` (→ "unknown"). */
  private def ftyp(id: Long): Array[Byte] =
    if (id % 37 == 11) box("free", zeros(8))
    else box("ftyp", ascii(brands((id % 3).toInt)), u32(0))

  /** Stands in for a refused `moov` (doc_id % 17 = 3). */
  private val noMoov = box("free", zeros(8))

  private def mvhd(ts: Long, dur: Long, v1: Boolean = false): Array[Byte] =
    if (v1) box("mvhd", u32(0x01000000), zeros(16), u32(ts), u64(dur), zeros(80))
    else box("mvhd", u32(0), zeros(8), u32(ts), u32(dur), zeros(80))

  private def mvhdOf(id: Long): Array[Byte] = mvhd(600 * (id % 4 + 1), id % 9000 + 100)

  private def mdhd(ts: Long, dur: Long): Array[Byte] =
    box("mdhd", u32(0), zeros(8), u32(ts), u32(dur), zeros(4))

  private def hdlr(k: Long): Array[Byte] =
    box("hdlr", u32(0), u32(0), ascii(handlers((k % 3).toInt)), zeros(13))

  private def trex(trackId: Long, dur: Long, size: Long): Array[Byte] =
    box("trex", u32(0), u32(trackId), u32(1), u32(dur), u32(size), u32(0))

  /** A declaration-only `trak` (tkhd + mdia(mdhd + hdlr), no stbl). */
  private def declTrak(trackId: Long, k: Long): Array[Byte] =
    box("trak", box("tkhd", u32(0), zeros(8), u32(trackId), zeros(68)),
      box("mdia", mdhd(500 * (k % 3 + 1), 0), hdlr(k)))

  private val mdat600 = box("mdat", fill(600, 0xAB))

  /** A `moov` of the standard `mvhd` plus `children`, or the refusal. */
  private def moov(id: Long, children: Seq[Array[Byte]]): Array[Byte] =
    if (id % 17 == 3) noMoov else box("moov", mvhdOf(id) +: children: _*)

  /** A fragmented file's init `moov`: declaration-only traks for track
    * keys `ks` (track_ID t+1), then `mvex` over `trexes` unless None.
    */
  private def initMoov(id: Long, ks: Seq[Long],
      trexes: Option[Seq[Array[Byte]]]): Array[Byte] =
    moov(id, ks.indices.map(t => declTrak(t + 1, ks(t))) ++ trexes.map(box("mvex", _: _*)))

  /** The d36/d39/d40 content key: the previous row for the alias classes. */
  private def base(id: Long): Long = if (id % 10 == 1 || id % 10 == 3) id - 1 else id

  /** The high-entropy duration base (see [[graft.EntryOps.mp4RemuxAssets]]). */
  private def entropy(k: Long): Long = (k * k * 92821) % 700000007

  /** A flat `trak` with full sample tables, track key k: ns = k%5+2
    * samples, stts runs (2+contra, d1), (ns−2, d2) or (ns+contra, d1),
    * two-chunk stsc unless `oneChunk`, one chunk offset per `offsets`.
    */
  private def sampleTrak(k: Long, d1: Long, d2: Long, contra: Int,
      oneChunk: Boolean, offsets: Seq[Long], co64: Boolean): Array[Byte] = {
    val ns = k % 5 + 2
    val isConst = k % 2 == 0
    val ticks = if (ns >= 4) 2 * d1 + (ns - 2) * d2 else ns * d1
    val stts =
      if (ns >= 4) box("stts", u32(0), u32(2), u32(2 + contra), u32(d1), u32(ns - 2), u32(d2))
      else box("stts", u32(0), u32(1), u32(ns + contra), u32(d1))
    val stsc =
      if (oneChunk) box("stsc", u32(0), u32(1), u32(1), u32(ns), u32(1))
      else if (ns % 2 == 0) box("stsc", u32(0), u32(1), u32(1), u32(ns / 2), u32(1))
      else box("stsc", u32(0), u32(2), u32(1), u32((ns + 1) / 2), u32(1),
        u32(2), u32(ns / 2), u32(1))
    val sizes = if (isConst) Nil else (0L until ns).map(j => u32((k * 7 + j * 3) % 50 + 8))
    val stsz = box("stsz", u32(0) +: u32(if (isConst) k % 7 + 10 else 0) +: u32(ns) +: sizes: _*)
    val sco =
      if (co64) box("co64", u32(0) +: u32(offsets.size) +: offsets.map(u64): _*)
      else box("stco", u32(0) +: u32(offsets.size) +: offsets.map(u32): _*)
    box("trak", box("mdia", mdhd(500 * (k % 3 + 1), ticks), hdlr(k),
      box("minf", box("stbl", stts, stsc, stsz, sco))))
  }

  /** One `moof` + 600-byte `mdat` fragment; `trafs` receives the moof's own
    * size, which every trun data_offset is relative to. The moof is built
    * twice: once to measure it, once with the real offsets.
    */
  private def fragment(seq: Long, trafs: Long => Seq[Array[Byte]]): Array[Byte] = {
    def moof(size: Long) = box("moof", box("mfhd", u32(0), u32(seq)) +: trafs(size): _*)
    cat(moof(moof(0).length), mdat600)
  }

  // --- the builders ---------------------------------------------------------

  /** m14: see [[graft.EntryOps.mp4Assets]]. */
  def mp4(id: Long): Array[Byte] = {
    val nt = id % 3 + 1
    val mdatFirst = id % 5 == 0
    val mv =
      if (id % 17 == 3) noMoov
      else box("moov", mvhd(if (id % 31 == 8) 0 else 600 * (id % 4 + 1),
        id % 9000 + 100, v1 = id % 7 == 2) +:
        (0L until nt).map(t => box("trak", box("mdia", hdlr(id + t)))): _*)
    val filler = fill((id % 16 + 12).toInt, 0xAB)
    val mdat =
      if (id % 19 == 4) cat(u32(1), ascii("mdat"), u64(16 + filler.length), filler) // largesize
      else if (id % 23 == 6 && !mdatFirst && id % 13 != 5)
        cat(u32(0), ascii("mdat"), filler) // size 0: to EOF
      else box("mdat", filler)
    val full = if (mdatFirst) cat(ftyp(id), mdat, mv) else cat(ftyp(id), mv, mdat)
    // % 13 = 5: the last box's declared size overruns EOF
    if (id % 13 == 5) full.dropRight(10) else full
  }

  /** m21: see [[graft.EntryOps.mp4SampleAssets]]. */
  def mp4Samples(id: Long): Array[Byte] = {
    val contra = if (id % 29 == 10) 1 else 0
    val off2 = if (id % 41 == 7) 1000000L else 96L // % 41 = 7: past EOF
    val traks = (0L until id % 3 + 1).map { t =>
      val k = id + t
      sampleTrak(k, k % 4 + 100, k % 4 + 150, contra, oneChunk = false,
        Seq(48L, off2), co64 = k % 11 == 4)
    }
    val moof = if (id % 43 == 9) box("moof", zeros(8)) else Array.emptyByteArray
    cat(ftyp(id), moov(id, traks), box("mdat", fill((id % 16 + 12).toInt, 0xAB)), moof)
  }

  /** m22: see [[graft.EntryOps.mp4FragmentAssets]]. */
  def mp4Fragments(id: Long): Array[Byte] = {
    val nt = id % 2 + 1
    val noMvex = id % 31 == 5
    val ks = (0L until nt).map(id + _)
    val trexes = ks.indices.map(t => trex(t + 1, ks(t) % 4 + 100, ks(t) % 7 + 10))
    def tid(t: Long) = if (id % 41 == 7) 999L else t + 1 // % 41 = 7: undeclared
    def traf(t: Long, f: Long, moofSize: Long): Array[Byte] = {
      val k = id + t
      val ce = if (noMvex) 0 else (k + f) % 3 // the exhausted chain forces class 0
      val ns = (k + f) % 4 + 1
      val doff = moofSize + 8 + t * 300
      val tfhd =
        if (id % 23 == 6) box("tfhd", u32(1), u32(tid(t)), u64(10000000)) // past EOF
        else if (ce == 1) box("tfhd", u32(0x20008), u32(tid(t)), u32(k % 4 + 120))
        else box("tfhd", u32(0x20000), u32(tid(t)))
      val js = 0L until ns
      val trun =
        if (id % 29 == 10) // first-sample-flags + per-sample flags: forbidden
          box("trun", u32(0x405) +: u32(ns) +: u32(doff) +: u32(0) +: js.map(_ => u32(0)): _*)
        else if (ce == 0) box("trun", u32(1), u32(ns), u32(doff))
        else if (ce == 1) box("trun", u32(0x201) +: u32(ns) +: u32(doff) +:
          js.map(j => u32((k * 5 + f * 3 + j * 2) % 40 + 8)): _*)
        else box("trun", u32(0x301) +: u32(ns) +: u32(doff) +:
          js.map(j => cat(u32(k % 4 + 100 + j), u32((k * 3 + j) % 30 + 10))): _*)
      box("traf", tfhd, trun)
    }
    val body =
      if (id % 43 == 9) mdat600
      else cat((0L until id % 3 + 1).map { f =>
        fragment(f + 1, size => (0L until nt).map(traf(_, f, size)))
      }: _*)
    cat(ftyp(id), initMoov(id, ks, if (noMvex) None else Some(trexes)), body)
  }

  /** d36: see [[graft.EntryOps.mp4RemuxAssets]]. */
  def mp4Remux(id: Long): Array[Byte] = {
    val b = base(id)
    val nt = if (id % 10 == 3) math.max(1L, b % 3) else b % 3 + 1
    val alt = id % 10 == 1 || id % 6 == 2
    val mv = moov(id, (0L until nt).map { t =>
      val k = b * 4 + t
      sampleTrak(k, entropy(k) + 100, entropy(k) + 150, contra = 0,
        oneChunk = alt, if (alt) Seq(48L) else Seq(48L, 96L), co64 = false)
    })
    val mdat = box("mdat", fill((id % 16 + 12).toInt, 0xAB))
    if (alt) cat(ftyp(id), mdat, mv) else cat(ftyp(id), mv, mdat)
  }

  /** d39: see [[graft.EntryOps.mp4DashAssets]]. */
  def mp4Dash(id: Long): Array[Byte] = {
    val b = base(id)
    val nt = if (id % 10 == 3) 1L else (b % 4) / 2 + 1
    val nf = if (id % 10 == 1) (b % 3 + 1) % 3 + 1 else b % 3 + 1
    val ks = (0L until nt).map(b * 4 + _)
    val trexes = ks.indices.map(t => trex(t + 1, entropy(ks(t)) + 100, ks(t) % 7 + 10))
    // the track's ns_tot = k%5+3 samples cut into nf near-equal runs
    def cnt(k: Long, f: Long) = (k % 5 + 3) / nf + (if (f < (k % 5 + 3) % nf) 1 else 0)
    val frags = (0L until nf).map { f =>
      fragment(f + 1, size => ks.indices.map { t =>
        box("traf", box("tfhd", u32(0x20000), u32(t + 1)),
          box("trun", u32(1), u32(cnt(ks(t), f)), u32(size + 8 + t * 300)))
      })
    }
    cat(ftyp(id) +: initMoov(id, ks, Some(trexes)) +: frags: _*)
  }

  /** m25/d40: see [[graft.EntryOps.mpegTsAssets]]. 188-byte cells. */
  def mpegTs(id: Long): Array[Byte] = {
    val b = base(id)
    val nt = if (id % 10 == 3) 1L else (b % 4) / 2 + 1
    val pmtPid = 32 + id % 8
    def esPid(t: Long) = 256 * (id % 5 + 1) + t
    val streamIds = Array(0xE0, 0xC0, 0xBD)
    val streamTypes = Array(0x1B, 0x0F, 0x06)
    // one PES in one cell: PUSI header, stuffed adaptation field, PES
    // header with the §2.4.3.7 marker-framed PTS, sz content bytes
    def pes(t: Long, j: Long): Array[Byte] = {
      val k = b * 4 + t
      val sz = (k % 7 + 10).toInt
      val pts = j * (entropy(k) + 100)
      if (t >= nt || j >= k % 5 + 3) Array.emptyByteArray
      else cat(u8(0x47), u16(16384 + esPid(t)), u8(48 + j),
        u8(169 - sz), u8(0), fill(168 - sz, 0xFF),
        u8(0), u16(1), u8(streamIds((k % 3).toInt)), u16(8 + sz),
        u8(0x80), u8(0x80), u8(5),
        u8(32 + (pts / 1073741824) % 8 * 2 + 1),
        u16((pts / 32768) % 32768 * 2 + 1), u16(pts % 32768 * 2 + 1),
        fill(sz, 0xAB))
    }
    val pat =
      if (id % 17 == 3) Array.emptyByteArray
      else cat(u8(0x47), u16(0x4000), u8(0x10), u8(0), u8(0), u16(0xB00D),
        u16(1), u8(0xC1), u8(0), u8(0), u16(1), u16(57344 + pmtPid), u32(0),
        fill(167, 0xFF))
    val pmt = cat(Seq(u8(0x47), u16(16384 + pmtPid), u8(0x10), u8(0), u8(2),
      u16(45056 + 13 + 5 * nt), u16(1), u8(0xC1), u8(0), u8(0),
      u16(57344 + esPid(0)), u16(0xF000)) ++
      (0L until nt).map { t =>
        cat(u8(streamTypes(((b * 4 + t) % 3).toInt)), u16(57344 + esPid(t)), u16(0xF000))
      } ++ Seq(u32(0), fill((167 - 5 * nt).toInt, 0xFF)): _*)
    // the two interleaves emit the SAME cell multiset in different order
    val cells =
      if (id % 10 == 1 || id % 6 == 2) for (j <- 0L until 7; t <- 0L until 2) yield pes(t, j)
      else for (t <- 0L until 2; j <- 0L until 7) yield pes(t, j)
    val ts = cat(pat +: pmt +: cells: _*)
    if (id % 37 == 11) ts(0) = 0x48 // the first cell's sync byte is lost
    ts
  }
}
