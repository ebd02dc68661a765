package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for the date-partitioned fact tables.
  *
  * The append layout (`event_date=D/batch_id=N/`, [[Ingest.appendEvents]])
  * bounds files PER BATCH at the salt width, but a long-running feed
  * accumulates one leaf per micro-batch — leaves × B files per date grows
  * without bound, and at 100 TB the scan's file listing and open-per-file
  * overhead become the bottleneck. Compaction rewrites a date's accumulated
  * leaves into one right-sized leaf.
  *
  * Commit protocol (the same marker discipline as the contacts versioned
  * snapshot — readers flip atomically, deletion is only GC):
  *  - compacted data is written to a GENERATION leaf `batch_id=-G` (negative
  *    ids are reserved: stream batch ids are non-negative), recording the
  *    highest source batch id it covers in a `_GRAFT_COMPACTED` marker file
  *    written AFTER the data;
  *  - a reader ([[resolveFactPaths]]) takes, per date, the highest MARKED
  *    generation leaf plus every positive leaf with id > its covered
  *    horizon. An unmarked generation leaf (torn compaction) is invisible;
  *    until the marker lands, readers keep using the source leaves — there
  *    is no instant at which rows are absent or double-counted;
  *  - after the marker, the covered source leaves (and the superseded
  *    generation) are garbage — but NOT deleted by the same run: an
  *    in-flight reader that resolved its paths just before the flip is
  *    still scanning them. They are removed by the NEXT run's GC sweep, so
  *    the grace period is the inter-run interval — the same
  *    current-plus-previous discipline as the contacts snapshot GC.
  *
  * The newest `keepLatest` batch leaves of each date are never compacted, so
  * a redelivered recent micro-batch (overwrite-by-batchId replay) still
  * targets its own leaf, never rows swallowed by a compaction. Concurrent
  * runs serialize per date through an atomic claim marker
  * (`_graft_compact.lock`, create-if-absent — same primitive as the
  * contacts commit): a date whose lock is held is skipped (the other run is
  * doing the work), and a crashed holder's lock is stolen once stale.
  */
object Compaction {

  private val DateLeaf = "event_date=(.+)".r
  private val BatchLeaf = "batch_id=(-?\\d+)".r
  private val Marker = "_GRAFT_COMPACTED"
  // Table-level as-of manifests: `_graft_manifests/v<N>` (underscore dir —
  // hidden from Spark's file listings). Each manifest is a full point-in-time
  // read set: one line per date recording the serving generation leaf (or
  // `-`) and the live positive batch ids AT COMMIT TIME, for EVERY date —
  // including never-compacted ones. See [[resolveFactPathsAt]].
  private val ManifestDir = "_graft_manifests"
  private val ManifestFile = "v(\\d+)".r

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listDirs(fs: FileSystem, p: Path): Seq[FileStatus] =
    if (fs.exists(p)) fs.listStatus(p).toSeq.filter(_.isDirectory) else Seq.empty

  private final case class DateState(
      dateDir: Path,
      positive: Seq[(Long, Path)],
      generations: Seq[(Long, Path, Option[Long])]) // (gen, path, covered-if-marked)

  private def dateState(fs: FileSystem, dateDir: Path): DateState = {
    val leaves = listDirs(fs, dateDir).flatMap { st =>
      st.getPath.getName match {
        case BatchLeaf(n) => Some((n.toLong, st.getPath))
        case _ => None
      }
    }
    val (neg, pos) = leaves.partition(_._1 < 0)
    val gens = neg.map { case (id, p) =>
      val covered = readMarker(fs, p)
      (-id, p, covered)
    }
    DateState(dateDir, pos, gens)
  }

  private def readMarker(fs: FileSystem, leaf: Path): Option[Long] =
    readMarkerFull(fs, leaf).map(_._1)

  /** Full marker parse: (covered horizon, surviving positive ids at commit
    * time). The second component is None for v1 markers written before
    * as-of reads existed — such generations serve current reads normally
    * but cannot be time-traveled to (their live set was never recorded).
    */
  private def readMarkerFull(fs: FileSystem, leaf: Path): Option[(Long, Option[Seq[Long]])] = {
    val m = new Path(leaf, Marker)
    if (!fs.exists(m)) None
    else try {
      val in = fs.open(m)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = text.trim.split("\n")
      val covered = lines(0).trim.toLong
      val live = lines.find(_.startsWith("live=")).map { l =>
        val ids = l.stripPrefix("live=").trim
        if (ids.isEmpty) Seq.empty[Long] else ids.split(",").map(_.toLong).toSeq
      }
      Some((covered, live))
    } catch {
      // torn/garbled marker (non-atomic create+write on HDFS/object
      // stores): the generation reads as UNCOMMITTED rather than crashing
      // the resolve path — identical to the ANN-index marker discipline
      // (IndexFs.readMarkerLong)
      case _: NumberFormatException | _: java.io.IOException => None
    }
  }

  /** Per-date file resolution under the compaction protocol. Returns None
    * when the table has no generation leaves at all — the caller then uses
    * the plain root read (zero overhead for never-compacted tables).
    */
  def resolveFactPaths(spark: SparkSession, root: String): Option[Seq[String]] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val dates = listDirs(fs, rootPath).filter(st =>
      DateLeaf.pattern.matcher(st.getPath.getName).matches())
    val states = dates.map(st => dateState(fs, st.getPath))
    if (states.forall(_.generations.isEmpty)) return None
    val paths = states.flatMap { s =>
      val committed = s.generations.collect { case (g, p, Some(c)) => (g, p, c) }
      if (committed.isEmpty) s.positive.map(_._2.toString) // torn gen leaf: invisible
      else {
        val (_, genPath, covered) = committed.maxBy(_._1)
        genPath.toString +: s.positive.collect {
          case (id, p) if id > covered => p.toString
        }
      }
    }
    Some(paths)
  }

  /** Compact every date whose un-covered positive leaf count is at least
    * `minLeaves`, keeping the newest `keepLatest` batch leaves out of the
    * rewrite (replay safety).
    *
    * `zorderBy`: when set, the compaction rewrite also Z-ORDER clusters the
    * generation leaf on the two named columns ([[Ingest.writeZOrdered]]'s
    * range-normalized Morton layout) — compaction is the natural home for
    * multi-dimensional re-clustering because it already rewrites the data
    * behind an atomic marker flip (this is the OPTIMIZE ZORDER lifecycle:
    * ingest appends fast and unsorted, the maintenance pass buys min/max
    * skipping on BOTH predicate columns with zero reader coordination).
    */
  def compact(spark: SparkSession, warehouse: Warehouse, table: String,
      minLeaves: Int = 4, keepLatest: Int = 2,
      lockTimeoutMs: Long = 60 * 60 * 1000L,
      zorderBy: Option[(String, String)] = None): Unit = {
    val root = new Path(warehouse.path(table))
    val fs = fsOf(spark, root)
    var committedAny = false
    listDirs(fs, root).foreach { dateSt =>
      dateSt.getPath.getName match {
        case DateLeaf(_) =>
          withDateLock(fs, dateSt.getPath, lockTimeoutMs) {
            if (compactDate(spark, fs, dateState(fs, dateSt.getPath),
                minLeaves, keepLatest, zorderBy))
              committedAny = true
          }
        case _ => ()
      }
    }
    // Drop manifests whose referenced leaves the per-date GC sweeps above
    // made unreadable — they would only evict anyway, and pruning them keeps
    // the "retained versions" eviction message exact.
    gcManifests(fs, root)
    // One table-level as-of version per committing run, AFTER every date's
    // rewrite landed: the manifest snapshots the read set of ALL dates at a
    // single listing instant, so "as of vN" never mixes per-date generation
    // states and never leaks post-commit appends through uncompacted dates.
    if (committedAny) writeManifest(fs, root)
  }

  /** Serialize compactors per date via an atomic claim marker. A held lock
    * means another run owns the date — skip it (the work gets done either
    * way); a stale lock (holder crashed mid-run) is stolen. Runs `body`
    * only when the claim succeeds.
    */
  private def withDateLock(fs: FileSystem, dateDir: Path,
      lockTimeoutMs: Long)(body: => Unit): Unit = {
    val lock = new Path(dateDir, "_graft_compact.lock")
    def claim(): Boolean = graft.ops.IndexFs.tryClaim(fs, lock.toString)
    val owned = claim() || {
      val stale =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime > lockTimeoutMs
        catch { case _: java.io.FileNotFoundException => false }
      stale && { fs.delete(lock, false); claim() }
    }
    if (owned) try body finally fs.delete(lock, false)
  }

  /** Returns true when this date committed a new generation. */
  private def compactDate(spark: SparkSession, fs: FileSystem, s: DateState,
      minLeaves: Int, keepLatest: Int,
      zorderBy: Option[(String, String)]): Boolean = {
    val committed = s.generations.collect { case (g, p, Some(c)) => (g, p, c) }
    val currentGen = if (committed.isEmpty) 0L else committed.map(_._1).max
    val coveredNow = if (committed.isEmpty) -1L else committed.maxBy(_._1)._3
    // GC what the PREVIOUS run's marker made garbage (covered positives,
    // superseded/torn older generations). Deleting only here — never in the
    // same run that writes a marker — gives in-flight readers of the
    // pre-marker state the whole inter-run interval to finish.
    gcDate(fs, s, committed)
    val live = s.positive.filter(_._1 > coveredNow).sortBy(_._1)
    if (live.size < minLeaves) return false
    val toCompact = live.dropRight(keepLatest)
    if (toCompact.isEmpty) return false
    val maxCovered = toCompact.map(_._1).max
    val newGen = currentGen + 1
    val target = new Path(s.dateDir, s"batch_id=-$newGen")
    fs.delete(target, true) // reclaim a torn leaf of the same generation
    val sources: Seq[String] = toCompact.map(_._2.toString) ++
      committed.sortBy(_._1).lastOption.map(_._2.toString).toSeq
    // The leaf dirs hold bare data files (partition values live in the dir
    // names we are rewriting), so read them directly. NO coalesce(1) and no
    // shuffle: `files.maxPartitionBytes` bin-packing merges the small files
    // into right-sized read partitions, each task writes one ~partition-
    // sized file — output file count ≈ total bytes / maxPartitionBytes, and
    // a huge date compacts with full parallelism instead of funneling
    // through one writer (the same trap the salted append avoids).
    val src = spark.read.parquet(sources: _*)
    zorderBy match {
      case Some((c1, c2)) =>
        // same right-sized output granularity as the plain path: the
        // bin-packed read partition count ≈ total bytes / maxPartitionBytes
        Ingest.writeZOrdered(src, target.toString, c1, c2,
          files = math.max(1, src.rdd.getNumPartitions))
      case None =>
        src.write.mode(SaveMode.Overwrite).parquet(target.toString)
    }
    // remove Spark's job-level _SUCCESS before OUR marker: the marker is the
    // single commit point readers trust
    fs.delete(new Path(target, "_SUCCESS"), false)
    // marker v2: line 1 is the covered horizon (what v1 readers parse),
    // line 2 records the positive leaves alive at commit time (historical —
    // as-of reads now resolve through the table-level manifest, which also
    // covers dates this rewrite didn't touch; the line is kept so v2-marker
    // readers of this table keep parsing)
    val survivors = live.takeRight(keepLatest).map(_._1)
    val out = fs.create(new Path(target, Marker), true)
    try out.write(
      s"$maxCovered\nlive=${survivors.mkString(",")}".getBytes("UTF-8"))
    finally out.close()
    // the now-covered sources become garbage for the NEXT run's gcDate —
    // in-flight readers that resolved against them keep scanning immutable
    // files until then
    true
  }

  /** TIME-TRAVEL path resolution: the table exactly as a committing
    * compaction run's MANIFEST recorded it. A manifest (`_graft_manifests/
    * v<N>`, written once per committing run AFTER all its dates landed)
    * snapshots the read set of EVERY date at one listing instant — serving
    * generation leaf plus live positive batch ids, including the positives
    * of never-compacted dates. Resolving "as of vN" therefore:
    *  - never leaks later appends through uncompacted dates (their batch
    *    ids are simply not in the manifest — the pre-manifest
    *    implementation read such dates as-current);
    *  - never mixes per-date generation states (the version is a
    *    table-level commit event, not a per-date generation number whose
    *    gen-N commits happened at different wall-clock times).
    * A requested version between retained versions resolves to the newest
    * manifest ≤ version (the state that was current at that point).
    *
    * Retention window: a manifest stays readable until a later run's GC
    * sweep removes one of its referenced leaves (the same lazy-grace
    * discipline in-flight readers rely on); [[compact]] then prunes the
    * manifest itself. Outside the window the read FAILS LOUDLY with the
    * retained versions — never a silent partial state:
    *  - version predates the oldest retained manifest → eviction error;
    *  - a referenced leaf was GC'd since → eviction error;
    *  - a table compacted only before manifests existed → explicit error.
    *
    * Caveat (documented, inherent to overwrite-by-batchId replay): a live
    * positive leaf replayed AFTER the manifest committed is re-read with
    * its replayed content — replay's contract is same-content redelivery,
    * so this is not a divergence in practice.
    */
  def resolveFactPathsAt(spark: SparkSession, root: String,
      version: Long): Seq[String] = {
    require(version >= 1, s"fact-table versions start at 1, got $version")
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    def evict(detail: String): Nothing =
      throw new NoSuchElementException(
        s"$root as-of v$version is not retained ($detail); " +
          s"retained versions: ${factVersions(spark, root).mkString(", ")}")
    val manifests = listManifests(fs, rootPath)
    if (manifests.isEmpty)
      evict("no as-of manifests exist — the table was never compacted, or " +
        "only by a pre-manifest writer")
    val eligible = manifests.filter(_._1 <= version)
    if (eligible.isEmpty)
      evict(s"oldest retained manifest is v${manifests.map(_._1).min}")
    val (v, mPath) = eligible.maxBy(_._1)
    val entries = readManifest(fs, mPath).getOrElse(
      evict(s"manifest v$v is torn/unparseable"))
    entries.flatMap { case (dateName, gen, liveIds) =>
      val dateDir = new Path(rootPath, dateName)
      val leaves = gen.map(g => new Path(dateDir, g)).toSeq ++
        liveIds.map(id => new Path(dateDir, s"batch_id=$id"))
      val missing = leaves.filterNot(fs.exists)
      if (missing.nonEmpty)
        evict(s"$dateName leaves ${missing.map(_.getName).mkString(", ")} " +
          s"recorded by manifest v$v were garbage-collected")
      leaves.map(_.toString)
    }
  }

  /** Still-reachable as-of versions: manifests all of whose referenced
    * leaves survive (ascending).
    */
  def factVersions(spark: SparkSession, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    listManifests(fs, rootPath).filter { case (_, p) =>
      readManifest(fs, p).exists(_.forall { case (dateName, gen, liveIds) =>
        val dateDir = new Path(rootPath, dateName)
        gen.forall(g => fs.exists(new Path(dateDir, g))) &&
          liveIds.forall(id => fs.exists(new Path(dateDir, s"batch_id=$id")))
      })
    }.map(_._1).sorted
  }

  private def listManifests(fs: FileSystem, rootPath: Path): Seq[(Long, Path)] = {
    val dir = new Path(rootPath, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestFile(n) => Some((n.toLong, st.getPath))
        case _ => None
      }
    }
  }

  /** Manifest line grammar (one line per date after the `ts=` header):
    * `<dateLeaf>\t<genLeaf or ->\t<comma-joined live positive ids>`,
    * terminated by `end=<date-line count>` — a manifest missing its
    * terminator (crash mid-write) is torn and treated as absent, never as
    * a silently-smaller table.
    */
  private def readManifest(fs: FileSystem,
      p: Path): Option[Seq[(String, Option[String], Seq[Long])]] = {
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val dateLines = lines.filter(_.contains("\t"))
    if (!lines.lastOption.contains(s"end=${dateLines.size}")) None
    else Some(dateLines.map { l =>
      val parts = l.split("\t", -1)
      val gen = if (parts(1) == "-") None else Some(parts(1))
      val live =
        if (parts(2).isEmpty) Seq.empty[Long]
        else parts(2).split(",").map(_.toLong).toSeq
      (parts(0), gen, live)
    })
  }

  private def writeManifest(fs: FileSystem, rootPath: Path): Unit = {
    val dates = listDirs(fs, rootPath).filter(st =>
      DateLeaf.pattern.matcher(st.getPath.getName).matches())
    val lines = dates.map { st =>
      val s = dateState(fs, st.getPath)
      val committed = s.generations.collect { case (g, p, Some(c)) => (g, p, c) }
      if (committed.isEmpty)
        s"${st.getPath.getName}\t-\t${s.positive.map(_._1).sorted.mkString(",")}"
      else {
        val (_, genPath, covered) = committed.maxBy(_._1)
        val live = s.positive.collect { case (id, _) if id > covered => id }.sorted
        s"${st.getPath.getName}\t${genPath.getName}\t${live.mkString(",")}"
      }
    }
    val content = (s"ts=${System.currentTimeMillis()}" +: lines :+
      s"end=${lines.size}").mkString("\n")
    val dir = new Path(rootPath, ManifestDir)
    fs.mkdirs(dir)
    // create-if-absent allocation: two committing runs racing the same
    // version number serialize on the create — the loser retries one up
    // (its own fresh listing is captured either way)
    var v = listManifests(fs, rootPath).map(_._1).maxOption.getOrElse(0L) + 1
    var done = false
    while (!done) {
      val target = new Path(dir, s"v$v")
      if (fs.exists(target)) { v += 1 }
      else {
        try {
          val out = fs.create(target, false)
          try out.write(content.getBytes("UTF-8")) finally out.close()
          done = true
        } catch { case _: java.io.IOException => v += 1 }
      }
    }
  }

  /** Prune manifests made unreadable by leaf GC — called after the per-date
    * sweeps, so a manifest disappears from the retained list in the same
    * run that evicted its data.
    */
  private def gcManifests(fs: FileSystem, rootPath: Path): Unit =
    listManifests(fs, rootPath).foreach { case (_, p) =>
      val ok = readManifest(fs, p).exists(_.forall {
        case (dateName, gen, liveIds) =>
          val dateDir = new Path(rootPath, dateName)
          gen.forall(g => fs.exists(new Path(dateDir, g))) &&
            liveIds.forall(id => fs.exists(new Path(dateDir, s"batch_id=$id")))
      })
      if (!ok) fs.delete(p, false)
    }

  private def gcDate(fs: FileSystem, s: DateState,
      committed: Seq[(Long, Path, Long)]): Unit = {
    if (committed.isEmpty) return
    val (curGen, _, covered) = committed.maxBy(_._1)
    s.positive.collect { case (id, p) if id <= covered => p }
      .foreach(fs.delete(_, true))
    s.generations.collect {
      case (g, p, _) if g < curGen => p // superseded or torn older gens
    }.foreach(fs.delete(_, true))
  }
}
