package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The on-disk commit protocol of the ANN / learned-delta index roots, and
  * the Hadoop-`FileSystem` primitives under it.
  *
  * Three maintenance entries publish into an index root: the PQ codes
  * compaction and the learned-delta compaction ([[Layout.fold]]) and the
  * versioned-root commit ([[Similarity.commitPqRoot]] and its siblings).
  * All three [[withClaim]] a lock and [[Claim.publish]] a staged dir under
  * it; the two compactions and their readers ([[Layout.readParts]]) share
  * one generation [[Layout]] each. No other code writes the protocol.
  *
  * Every filesystem move goes through the Hadoop `FileSystem` API (the same
  * layer `spark.read` and the fact tables' `ingest.Ingest`/
  * `ingest.Compaction` use), so an `hdfs://` or `s3a://` index root works
  * identically to a local one — the resolver picks the driver from the
  * path's scheme and the cluster's `hadoopConfiguration`. The primitives
  * are driver-side and METADATA-sized (dir listings, one-line markers);
  * the data planes stay DataFrame reads and writes.
  */
private[graft] object IndexFs {

  /** The `FileSystem` serving `path`'s scheme under the session's Hadoop
    * configuration (local `file:`, `hdfs:`, `s3a:`, …).
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(fs: FileSystem, p: String): Boolean = fs.exists(new Path(p))

  /** Child NAMES of a directory (not paths); empty when the directory does
    * not exist. One round-trip — callers pattern-match the names
    * (`batch_id=N`, `codes_g<G>`) without further calls.
    */
  def childNames(fs: FileSystem, dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** Read a small marker file as UTF-8 (generation horizons — one line). */
  def readSmallString(fs: FileSystem, p: String): String = {
    val in = fs.open(new Path(p))
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write a small marker file (overwrite allowed — markers are only
    * written by the lock holder, so overwrite reclaims a torn marker from
    * a crashed predecessor at the same generation).
    */
  def writeSmallString(fs: FileSystem, p: String, content: String): Unit = {
    val out = fs.create(new Path(p), true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** ATOMICALLY publish a small marker: write to a dot-tmp sibling, then
    * rename into place. A bare create+write+close is not atomic on
    * HDFS/object stores — a reader passing the `exists(marker)` gate could
    * read an empty or partial marker and crash parsing it on the query hot
    * path; rename is atomic on HDFS and the local FS, so readers observe
    * either no marker or the whole marker. Only the claim holder calls
    * this, so removing a torn predecessor's marker first is safe. The tmp
    * sibling starts with `_` like the marker itself, keeping it invisible
    * to Spark's parquet file listing.
    */
  def commitSmallString(fs: FileSystem, p: String, content: String): Unit = {
    val tmp = p + ".tmp"
    writeSmallString(fs, tmp, content)
    val dst = new Path(p)
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(new Path(tmp), dst))
      throw new java.io.IOException(s"marker rename failed: $tmp -> $p")
  }

  /** Read a marker holding one long, tolerating absence and torn/garbled
    * content (None) — a generation whose marker cannot be parsed is
    * treated as UNCOMMITTED rather than crashing the read path. Pairs with
    * [[commitSmallString]]: on stores where even the rename discipline is
    * unavailable, a torn marker degrades to invisibility, never to a
    * reader exception.
    */
  def readMarkerLong(fs: FileSystem, p: String): Option[Long] =
    try {
      val s = readSmallString(fs, p).trim
      if (s.isEmpty) None else Some(s.toLong)
    } catch { case _: Exception => None }

  /** Rename, false on failure (dest exists, concurrent move, store without
    * the op). Callers treat failure as "a racer won" and abort their own
    * commit.
    */
  def rename(fs: FileSystem, src: String, dst: String): Boolean =
    try fs.rename(new Path(src), new Path(dst))
    catch { case _: java.io.IOException => false }

  /** Recursive delete; no-op when absent. */
  def rmTree(fs: FileSystem, p: String): Unit = {
    val path = new Path(p)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Modification time of `p`, or None when absent (a concurrent holder
    * released between our existence check and the stat).
    */
  def mtime(fs: FileSystem, p: String): Option[Long] =
    try Some(fs.getFileStatus(new Path(p)).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Atomic create-if-absent claim marker, also the fact tables' claim
    * (`ingest.Ingest.upsertContacts`, `ingest.Compaction`):
    * `java.io.File.createNewFile` is the atomic primitive on the local FS;
    * elsewhere `create(overwrite=false)` is atomic on HDFS
    * (namenode-arbitrated). On object stores WITHOUT atomic
    * create-if-absent (s3a without S3 conditional writes) the claim is
    * ADVISORY ONLY — creation can race — so [[withClaim]] additionally
    * verifies the holder TOKEN ([[ownsClaim]]) immediately before
    * publishing, and stages data under token-suffixed dirs renamed into
    * place — a lost race then aborts a commit instead of mixing files.
    */
  def tryClaim(fs: FileSystem, lock: String): Boolean = {
    val p = new Path(lock)
    fs.mkdirs(p.getParent)
    if (fs.getScheme == "file")
      new java.io.File(p.toUri.getPath).createNewFile()
    else
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  /** [[tryClaim]] with a HOLDER TOKEN: the atomic create wins the claim,
    * then the winner's unique token is written into the lock file — the
    * ownership witness [[ownsClaim]] re-checks before every destructive
    * or publishing step, and the write refreshes the lock mtime the
    * stale-steal policy keys on.
    *
    * The token write itself can fail when a concurrent maintainer STEALS
    * the just-created lock before the token lands (observed on the
    * checksummed local FS as a chmod-on-missing-.crc shell exception
    * under a zero stale timeout). That is a lost race, not an error:
    * report the claim as lost (false) and let the ownership verify /
    * stale-steal machinery converge — if the failed write left a token-
    * less lock behind, it reads as held-by-nobody and is stolen after the
    * timeout like any crashed holder's.
    */
  def tryClaim(fs: FileSystem, lock: String, token: String): Boolean =
    tryClaim(fs, lock) && {
      try { writeSmallString(fs, lock, token + "\n"); true }
      catch { case _: Exception => false }
    }

  /** The token in the lock file; None when absent, empty (a pre-token
    * claimant or a claim torn mid-write), or unreadable.
    */
  def claimHolder(fs: FileSystem, lock: String): Option[String] =
    try {
      val s = readSmallString(fs, lock).trim
      if (s.isEmpty) None else Some(s)
    } catch { case _: Exception => None }

  /** True iff the lock still exists and carries `token` — the commit-time
    * ownership re-verification: a holder paused past the stale timeout
    * (GC pause, long build) whose claim was stolen MUST abort rather than
    * publish over the stealer's work.
    */
  def ownsClaim(fs: FileSystem, lock: String, token: String): Boolean =
    claimHolder(fs, lock).contains(token)

  /** Run `body` while a daemon thread HEARTBEATS the claim — TOUCHES the
    * lock's mtime every `intervalMs` (minimum 500 ms), so a LIVE holder is
    * never classified stale by a concurrent maintainer however long its
    * build runs (the r11 steal policy keyed on a creation-time mtime the
    * holder never refreshed). The touch is `setTimes` — pure metadata,
    * never a content rewrite — so the holder's own commit-time
    * [[ownsClaim]] read can never race a truncating write of its own
    * heartbeat; the token content is written exactly once, at claim time.
    * The heartbeat re-checks ownership before each touch: once stolen, it
    * stops touching — it must not resurrect a stolen lock's freshness.
    */
  def withHeartbeat[T](fs: FileSystem, lock: String, token: String,
      intervalMs: Long)(body: => T): T = {
    val interval = math.max(intervalMs, 500L)
    @volatile var live = true
    val t = new Thread(() => {
      while (live) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        if (live)
          try {
            if (ownsClaim(fs, lock, token))
              fs.setTimes(new Path(lock), System.currentTimeMillis(), -1L)
          } catch { case _: Exception => () }
      }
    }, s"graft-claim-heartbeat")
    t.setDaemon(true)
    t.start()
    try body
    finally { live = false; t.interrupt() }
  }

  /** Path-capability names that advertise an ATOMIC create-if-absent on
    * object stores: S3 conditional writes (HTTP `If-None-Match: *`) were
    * wired into s3a's `create(overwrite=false)` by HADOOP-19256 and
    * surface through the public `PathCapabilities` probe on hadoop-aws
    * builds new enough to carry them. Probed, not assumed — the connector
    * in THIS build (see docs/PLANS.md capability matrix) advertises
    * neither, so the claim there stays advisory and the token-verify path
    * stays load-bearing.
    */
  val ConditionalCreateCapabilities: Seq[String] = Seq(
    "fs.option.create.conditional.overwrite",
    "fs.s3a.create.conditional.enabled")

  /** True when [[tryClaim]]'s create-if-absent is ATOMIC on the store
    * serving `path` — the capability probe behind the PLANS.md claim
    * matrix: local (`O_EXCL`) and HDFS (namenode-arbitrated) always are;
    * an object store is atomic exactly when it advertises a conditional-
    * create path capability ([[ConditionalCreateCapabilities]]). On a
    * capable store the claim upgrades from advisory to atomic with NO
    * protocol change (`create(overwrite=false)` is already what tryClaim
    * issues — the store now arbitrates it); the token-verify /
    * staged-rename defense-in-depth is kept regardless, because publish
    * safety must not depend on a probe. Probe failures (a pre-
    * PathCapabilities filesystem) read as not-capable, never as an error.
    */
  def atomicClaimSupported(fs: FileSystem, path: String): Boolean =
    fs.getScheme match {
      case "file" | "hdfs" | "viewfs" => true
      case _ => ConditionalCreateCapabilities.exists { c =>
        try fs.hasPathCapability(new Path(path), c)
        catch { case _: Throwable => false }
      }
    }

  def release(fs: FileSystem, lock: String): Unit =
    fs.delete(new Path(lock), false)

  /** Release only while still the holder — a stolen lock now belongs to
    * the stealer and must not be deleted out from under it.
    */
  def releaseIfOwner(fs: FileSystem, lock: String, token: String): Unit =
    if (ownsClaim(fs, lock, token)) release(fs, lock)

  /** Separator for token-suffixed STAGING dirs (`codes_g3__<token>`,
    * `v-00000002__<token>`): anchored \d+ name regexes never match a
    * staged name, so staging is invisible to every reader until the
    * holder-verified rename publishes it under the committed name.
    */
  val StageSep = "__"

  /** A claim held under a holder token: the only way to publish. */
  final class Claim private[IndexFs] (fs: FileSystem, lock: String,
      token: String) {

    /** Write `dest` through `write` into a token-suffixed staging dir,
      * rename it into place, then commit `marker` (holding `content`)
      * AFTER the data. False, with the staging dir discarded, when the
      * claim was lost: the committed state is whatever the current holder
      * published.
      *
      * Ownership is verified FIRST: only the live holder may reclaim an
      * unmarked `dest` (a torn predecessor's garbage), so the rename cannot
      * be blocked, and a stolen claim never touches the stealer's
      * in-progress dir. It is re-verified BETWEEN the destructive rmTree
      * and the rename, and again before the marker: a holder paused past
      * the stale timeout right after the first check could otherwise
      * delete a stealer's freshly renamed (not-yet-marked) dir and publish
      * its stale write over it. A failed late check leaves `dest` unmarked
      * — invisible to readers, reclaimed as torn by the next holder. The
      * residual (a pause INSIDE the rmTree→rename pair) is documented in
      * docs/PLANS.md: it can discard a stealer's newer write, never mix
      * files or lose source data.
      */
    def publish(dest: String, marker: String, content: String)(
        write: String => Unit): Boolean = {
      val stage = s"$dest$StageSep$token"
      write(stage)
      val published = ownsClaim(fs, lock, token) && {
        rmTree(fs, dest)
        ownsClaim(fs, lock, token) &&
        rename(fs, stage, dest) &&
        ownsClaim(fs, lock, token)
      }
      if (published) commitSmallString(fs, s"$dest/$marker", content)
      else rmTree(fs, stage)
      published
    }
  }

  /** Run `body` holding `lock`, or return `lost` when another maintainer
    * holds it. A lock untouched for `timeoutMs` whose holder made no
    * progress (`stealable`) belongs to a crashed holder — live holders
    * heartbeat ([[withHeartbeat]]), so stale means crashed — and is
    * stolen: the unmarked `<root>/<torn>` dir and every `<torn>__*`
    * staging dir it left are removed, the lock released and the claim
    * retried once. The body runs under the heartbeat; the lock is
    * released only while still owned.
    */
  def withClaim[T](fs: FileSystem, lock: String, timeoutMs: Long,
      root: String, torn: String, marker: String)(stealable: => Boolean,
      lost: => T)(body: Claim => T): T = {
    val token = java.util.UUID.randomUUID().toString
    if (!tryClaim(fs, lock, token)) {
      val stale = mtime(fs, lock)
        .forall(System.currentTimeMillis() - _ > timeoutMs)
      if (!stale || !stealable) return lost
      // marker re-checked at deletion time: a dir the holder committed
      // after the progress check is not torn
      if (!exists(fs, s"$root/$torn/$marker")) rmTree(fs, s"$root/$torn")
      childNames(fs, root).filter(_.startsWith(s"$torn$StageSep"))
        .foreach(n => rmTree(fs, s"$root/$n"))
      release(fs, lock)
      if (!tryClaim(fs, lock, token)) return lost
    }
    try withHeartbeat(fs, lock, token, timeoutMs / 4) {
      body(new Claim(fs, lock, token))
    } finally releaseIfOwner(fs, lock, token)
  }

  private val BatchDir = "batch_id=(\\d+)".r

  /** The `batch_id=N` partition ids under `dir`; empty when absent. */
  def batchIds(fs: FileSystem, dir: String): Seq[Long] =
    childNames(fs, dir).collect { case BatchDir(b) => b.toLong }

  def batchDir(dir: String, batchId: Long): String = s"$dir/batch_id=$batchId"

  /** `spark.read.parquet(path)` with the data schema pinned from one leaf's
    * footer ([[ParquetMeta.dataSchema]]): no schema-inference job;
    * partition columns are still discovered from the paths. With no
    * readable leaf, the inferring read, which behaves as it always did.
    */
  def readPinned(spark: SparkSession, path: String): DataFrame =
    ParquetMeta.dataSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** A GENERATION layout over an index root: a stream appends
    * `<delta>/batch_id=N` partitions; [[fold]] merges them with generation
    * G (or the `seed` dir) into `<prefix><G+1>/`, committed by `marker`
    * (holding the highest batch absorbed, the horizon) under the `lock`
    * claim; [[readParts]] serves the newest marked generation plus the
    * partitions above its horizon. `keepsBatchId`: the generation keeps
    * `batch_id` as a long column (a reader filters on it) instead of
    * dropping it.
    *
    * The horizon assumes ONE append-stream lineage (monotone batch ids per
    * checkpoint — the same assumption the delta's replay idempotence
    * rests on); a re-checkpointed stream needs a fresh index root.
    */
  final case class Layout(prefix: String, marker: String, lock: String,
      delta: String, seed: Option[String], keepsBatchId: Boolean) {
    private val Gen = s"$prefix(\\d+)".r

    /** Whether a root's child `names` hold this layout's delta or a
      * generation.
      */
    def holds(names: Seq[String]): Boolean =
      names.contains(delta) || names.exists(_.startsWith(prefix))

    /** (generation, horizon) for every MARKED generation, ascending. An
      * unmarked generation dir (a torn fold) and a torn or garbled marker
      * ([[readMarkerLong]]) are invisible, never a reader crash.
      */
    def generations(fs: FileSystem, root: String): Seq[(Long, Long)] =
      childNames(fs, root).flatMap {
        case Gen(g) =>
          readMarkerLong(fs, s"$root/$prefix$g/$marker").map(g.toLong -> _)
        case _ => None
      }.sortBy(_._1)

    /** The dir serving below the horizon (the newest of the marked `gens`,
      * else the seed) and that horizon (−1 with none).
      */
    private def served(root: String,
        gens: Seq[(Long, Long)]): (Option[String], Long) =
      gens.lastOption match {
        case Some((g, h)) => (Some(s"$root/$prefix$g"), h)
        case None         => (seed.map(s => s"$root/$s"), -1L)
      }

    /** The parts a reader unions: the served generation (or seed) and the
      * live partitions above its horizon, `batch_id` dropped, every part
      * read pinned ([[readPinned]]). With `beforeBatch` (a layout that
      * keeps `batch_id`), both parts hold only batches below it.
      */
    def readParts(spark: SparkSession, root: String,
        beforeBatch: Option[Long]): Seq[DataFrame] = {
      val fs = IndexFs.fs(spark, root)
      val (gen, horizon) = served(root, generations(fs, root))
      val genPart = gen.map { p =>
        val df = readPinned(spark, p)
        beforeBatch.fold(df)(b =>
          df.filter(col("batch_id") < b).drop("batch_id"))
      }
      val d = s"$root/$delta"
      // a fully-GC'd delta has no partitions left — nothing live to union
      val livePart = if (batchIds(fs, d).isEmpty) None else Some {
        // > horizon: a replayed old batch's re-written partition is
        // invisible once its rows live in the generation
        val above = col("batch_id") > horizon
        readPinned(spark, d)
          .filter(beforeBatch.fold(above)(b => above && col("batch_id") < b))
          .drop("batch_id")
      }
      genPart.toSeq ++ livePart
    }

    /** Fold the served generation (or seed) and the delta's partitions up to
      * the current horizon into the next generation, claim-locked
      * ([[withClaim]]) and published by marker ([[Claim.publish]]).
      * Batches landing during the fold have higher ids and stay live.
      * GC removes what was superseded BEFORE this run — generations below
      * the previous one, partitions at or below the previous horizon — so
      * this run's predecessors survive one grace cycle for in-flight
      * readers. A seed is never GC'd. Returns the committed generation:
      * the current one for a loser or a lost claim, 0 with nothing to fold.
      */
    def fold(spark: SparkSession, root: String, lockTimeoutMs: Long): Long = {
      val fs = IndexFs.fs(spark, root)
      def current(): Option[Long] = generations(fs, root).lastOption.map(_._1)
      val atEntry = current()
      withClaim(fs, s"$root/$lock", lockTimeoutMs, root,
          s"$prefix${atEntry.getOrElse(0L) + 1L}", marker)(
          current() == atEntry, current().getOrElse(0L)) { claim =>
        val gens = generations(fs, root)
        val (prev, prevHorizon) = served(root, gens)
        val d = s"$root/$delta"
        val live = batchIds(fs, d)
        val horizon = (live.filter(_ > prevHorizon) :+ prevHorizon).max
        val fresh =
          if (horizon <= prevHorizon) None
          else Some {
            val slice = readPinned(spark, d).filter(
              col("batch_id") > prevHorizon && col("batch_id") <= horizon)
            if (keepsBatchId)
              slice.withColumn("batch_id", col("batch_id").cast("long"))
            else slice.drop("batch_id")
          }
        (prev.map(readPinned(spark, _)).toSeq ++ fresh) match {
          case Nil => 0L
          case parts =>
            val next = gens.lastOption.map(_._1).getOrElse(0L) + 1L
            val genDir = s"$root/$prefix$next"
            val merged = parts.reduce(_ unionByName _)
            if (!claim.publish(genDir, marker, s"$horizon\n")(
                merged.write.mode("overwrite").parquet(_)))
              current().getOrElse(0L)
            else {
              gens.dropRight(1).foreach { case (g, _) =>
                rmTree(fs, s"$root/$prefix$g") }
              live.filter(_ <= prevHorizon)
                .foreach(b => rmTree(fs, batchDir(d, b)))
              next
            }
        }
      }
    }
  }

  /** PQ / IVF-PQ / SQ8 codes: the build's `codes/` seeds generation 1, and
    * the append delta is `codes_appended/`.
    */
  val PqCodes = Layout("codes_g", "_GRAFT_PQ_GEN", "_GRAFT_PQ_COMPACT.lock",
    "codes_appended", seed = Some("codes"), keepsBatchId = false)

  /** A self-learning root's `learned/` delta: `base/` stays apart (readers
    * union it), and a generation keeps `batch_id` for the readers'
    * strictly-below-b replay bound.
    */
  val Learned = Layout("learned_g", "_GRAFT_LEARNED_GEN",
    "_GRAFT_LEARNED_COMPACT.lock", "learned", seed = None, keepsBatchId = true)
}
