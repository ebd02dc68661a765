package graft.ingest

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.F

/** Warehouse layout: one Parquet directory per table under a root path, fact
  * tables partitioned by `event_date` so the reports' 24-hour predicate prunes
  * partitions at any scale (SURVEY §4). Stands in for the reference's PostgreSQL
  * database (`core.py:26-33`); at cluster scale the same code targets a
  * transactional table format via the same append/merge entry points.
  *
  * Reads are PINNED: every table reader takes its data columns from
  * [[graft.model.Schemas]], so no read runs a schema-inference job. The
  * partition columns (`event_date`, `batch_id`, `feed`) are not pinned: they
  * are still discovered from the paths, with the types discovery gives them.
  * IngestSpec checks each pinned schema against the inferred one.
  */
final case class Warehouse(root: String) {
  import graft.model.Schemas
  def path(table: String): String = s"$root/$table"
  /** A table read under `schema`. `basePath` keeps the partition columns of
    * an explicit leaf list.
    */
  private def pinned(spark: SparkSession, schema: StructType, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val reader = spark.read.schema(schema)
    basePath.fold(reader)(reader.option("basePath", _)).parquet(paths: _*)
  }
  /** Date-partitioned fact tables resolve through the compaction protocol:
    * a never-compacted table short-circuits to the plain root read; once
    * generation leaves exist, each date reads its highest MARKED generation
    * plus the batches past its covered horizon ([[Compaction]]). `basePath`
    * keeps the partition columns (and their pruning) intact.
    */
  private def readFact(spark: SparkSession, table: String,
      schema: StructType): DataFrame =
    Compaction.resolveFactPaths(spark, path(table)) match {
      case Some(paths) if paths.nonEmpty =>
        pinned(spark, schema, paths, Some(path(table)))
      case _ => pinned(spark, schema, Seq(path(table)))
    }
  def apache(spark: SparkSession): DataFrame =
    readFact(spark, "apache_access", Schemas.apacheAccess)
  def authfail(spark: SparkSession): DataFrame =
    readFact(spark, "authfail", Schemas.authfail)
  def inbox(spark: SparkSession): DataFrame = readFact(spark, "inbox", Schemas.inbox)
  /** The inbox's `id` and `batch_id` (the mail ingest reads it per batch). */
  def inboxIds(spark: SparkSession): DataFrame = inbox(spark).select("id", "batch_id")
  def contacts(spark: SparkSession): DataFrame =
    pinned(spark, Schemas.contacts,
      // a missing table reads its root: the same error as any missing table
      Ingest.snapshotPaths(spark, path("inbox_contacts"))
        .getOrElse(Seq(path("inbox_contacts"))))
  /** TIME TRAVEL over the contacts dimension: read an exact committed
    * snapshot version. GC retains current + previous, so the reachable
    * window is [[contactsVersions]] — the same contract as a vacuumed
    * Delta table; an evicted or never-committed version throws with the
    * retained list rather than silently reading something else.
    */
  def contactsAt(spark: SparkSession, version: Long): DataFrame =
    Ingest.snapshotPathAt(spark, path("inbox_contacts"), version) match {
      case Some(p) => pinned(spark, Schemas.contacts, Seq(p))
      case None => throw new NoSuchElementException(
        s"contacts snapshot v$version is not committed/retained; " +
          s"available: ${contactsVersions(spark).mkString(", ")}")
    }
  /** Committed, still-retained contacts snapshot versions (ascending). */
  def contactsVersions(spark: SparkSession): Seq[Long] =
    Ingest.snapshotVersions(spark, path("inbox_contacts"))
  def tocc(spark: SparkSession): DataFrame =
    pinned(spark, Schemas.inboxTocc, Seq(path("inbox_tocc")))
  def deadLetters(spark: SparkSession): DataFrame =
    pinned(spark, Schemas.deadLetter, Seq(path("dead_letters")))

  /** TIME TRAVEL over a date-partitioned fact table: the table exactly as
    * the version's compaction-run MANIFEST recorded it — a table-level
    * snapshot of every date's read set (serving generation + live batch
    * ids, including never-compacted dates' positives) captured when the
    * run committed. So a report run against yesterday's state is
    * reproducible after today's compaction rewrote the files, batches
    * appended after the commit never leak into the as-of view (their ids
    * are not in the manifest), and a version never mixes per-date
    * generation states. The reachable window is [[tableVersions]] (a
    * version survives until a later run's GC sweep evicts one of its
    * leaves — the same lazy-grace discipline as current readers), and an
    * evicted, never-committed, or pre-manifest version throws with the
    * retained list rather than silently reading something else
    * ([[Compaction.resolveFactPathsAt]]).
    */
  def tableAt(spark: SparkSession, table: String, version: Long): DataFrame = {
    val paths = Compaction.resolveFactPathsAt(spark, path(table), version)
    if (paths.isEmpty) throw new NoSuchElementException(
      s"${path(table)} has no data at v$version")
    spark.read.option("basePath", path(table)).parquet(paths: _*)
  }

  /** Still-reachable fact-table as-of versions (ascending). */
  def tableVersions(spark: SparkSession, table: String): Seq[Long] =
    Compaction.factVersions(spark, path(table))
}

/** Batch writers (reference W1/W2/W3/W5, SURVEY §2.3).
  *
  * The reference commits one transaction per event row (`core.py:46-48`) and
  * resolves contacts with an N+1 SELECT-then-INSERT per address
  * (`maillog.py:66-78`); here each micro-batch is ONE partitioned append and ONE
  * set-based merge — the scalable shape of the same semantics.
  */
object Ingest {

  /** W1 — append fact rows, partitioned by (event_date, batch_id):
    * `event_date` for partition pruning, `batch_id` for IDEMPOTENT re-delivery —
    * a retried micro-batch first deletes its own `batch_id=N` leaf directories
    * and rewrites them, so at-least-once delivery from the streaming engine
    * becomes exactly-once table contents (overwrite-by-batchId; the reference
    * gets the same guarantee from per-row PostgreSQL transactions,
    * core.py:46-48).
    */
  def appendEvents(df: DataFrame, warehouse: Warehouse, table: String,
      batchId: Long = 0L, writersPerDate: Int = 0): Unit = {
    deleteBatchDirs(df.sparkSession, warehouse.path(table), s"*/batch_id=$batchId")
    // Shuffle rows to (event_date, bounded salt) before partitionBy. Either
    // extreme fails at 100 TB/day:
    //  - no repartition: EVERY upstream task writes a file into EVERY
    //    (event_date, batch_id) leaf — tasks × dates small files per
    //    micro-batch, the accumulation that kills large scans;
    //  - repartition(event_date) alone: a date maps to exactly ONE task, and
    //    a steady daily feed is overwhelmingly one date — the whole batch
    //    funnels through a single writer while the rest of the cluster
    //    idles (maxRecordsPerFile re-splits FILES, not the task).
    // The bounded salt keeps both properties: ≤ dates × B files per batch,
    // and a hot date fans out across up to B writer tasks. The salt hashes
    // the full row content, so it is stable across a replay of the same
    // batch (replays overwrite-by-batchId anyway) and spreads rows evenly
    // even when every timestamp lands in the same second.
    val b =
      if (writersPerDate > 0) writersPerDate
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val salt = pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(b))
    df.withColumn("event_date", to_date(col("timestamp")))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("event_date"), salt)
      .write.mode(SaveMode.Append)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("event_date", "batch_id")
      .parquet(warehouse.path(table))
  }

  /** Bucketed table write — the 100 TB co-location primitive: hash-bucketing
    * a fact table by its dominant join/aggregation key ONCE at write time
    * lets every downstream equi-join and groupBy on that key run with NO
    * shuffle (Spark plans bucketed scans as pre-partitioned children; with
    * `sortBy` the sort-merge join's sort is free too). One ingest-time
    * shuffle amortized across every consumer is the same trade the classic
    * sort-merge-bucket ETL pattern makes; at a 1000-executor scale the
    * avoided exchange is usually the whole job cost.
    *
    * Registers `table` in the session catalog backed by parquet files at
    * `path` (external table — the files outlive the catalog entry and remain
    * plain parquet for non-bucket-aware readers; only the catalog carries
    * the bucket spec, which is why this goes through `saveAsTable` rather
    * than the path-based writer). IngestSpec asserts the no-shuffle plans.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Z-ORDERED write: range-partition and sort by the Morton interleave of
    * two key columns, so every output file covers a small RECTANGLE of the
    * 2-D key space instead of a full-width slice — parquet min/max stats
    * then skip files for predicates on EITHER column (a single-column sort
    * only ever prunes one). The multi-dimensional clustering pass a 100 TB
    * table gets between ingest and query (Delta/Iceberg OPTIMIZE ZORDER,
    * from the public construction). `files` controls output granularity;
    * range partitioning keeps files balanced under key skew (sampling), and
    * the per-partition sort is the only extra cost over a plain write.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      files: Int = 8): Unit = {
    // Interleaving RAW values lets the wider-range column dominate every
    // high bit — the narrow column then gets no clustering at all (measured:
    // a ~1500-range key over a ~200-range key left the second column's
    // per-file span at 99% of unsorted). Production Z-ordering normalizes
    // each dimension first; 16 bits per dimension is plenty for file-level
    // min/max skipping. The bounds pass is one tiny 4-scalar aggregate.
    // try_cast, not cast: under ANSI a malformed string would abort the
    // bounds job with a raw CAST_INVALID_INPUT instead of reaching the
    // named-column guard below.
    def asLong(c: String) = expr(s"try_cast(`$c` AS BIGINT)")
    def uncastable(c: String) =
      count(when(col(c).isNotNull && asLong(c).isNull, 1))
    val b = df.agg(
      min(asLong(c1)), max(asLong(c1)),
      min(asLong(c2)), max(asLong(c2)),
      uncastable(c1), uncastable(c2)).head()
    // Empty input or a non-numeric key (try_cast->long yields null, e.g. an
    // alphabetic username) leaves null bounds; fail with the column named
    // rather than an opaque NPE mid-compaction — and a partially-castable
    // string column must not silently cluster only its numeric rows.
    Seq(c1 -> 0, c2 -> 2).foreach { case (c, i) =>
      if (b.isNullAt(i) || b.isNullAt(i + 1))
        throw new IllegalArgumentException(
          s"writeZOrdered: no numeric bounds for z-order column '$c' " +
            "(empty input, or the column does not cast to long); " +
            "use a plain write or pick numeric z-order columns")
      if (b.getLong(4 + i / 2) > 0)
        throw new IllegalArgumentException(
          s"writeZOrdered: z-order column '$c' has values that do not cast " +
            "to long; clustering would silently cover only the numeric rows")
    }
    def norm(c: String, lo: Long, hi: Long) =
      if (hi > lo)
        ((asLong(c) - lit(lo)).cast("double") / lit((hi - lo).toDouble)
          * lit(65535.0)).cast("long")
      else lit(0L)
    df.withColumn("__z", graft.functions.ZOrderKey(
        norm(c1, b.getLong(0), b.getLong(1)),
        norm(c2, b.getLong(2), b.getLong(3))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z") // projection after sort preserves row order
      .write.mode("overwrite").parquet(path)
  }

  /** W5 — dead-letter sink (schema `graft.model.Schemas.deadLetter`), same
    * overwrite-by-batchId idempotence as the fact append, keyed by feed
    * (`dead_letters/feed=<feed>/batch_id=N`): every feed numbers its
    * micro-batches from 0, so a redelivery replaces only its own feed's
    * batch, never another feed's dead letters of the same batch id.
    *
    * Its `isEmpty` action is for callers that do not know the count: batch
    * callers, and a [[graft.streaming.LogStream]] feed whose observation came
    * back empty. The feeds count their dead letters on an action they run
    * anyway and call [[writeDeadLetters]] only when there are some.
    */
  def appendDeadLetters(df: DataFrame, warehouse: Warehouse, feed: String,
      batchId: Long = 0L): Unit =
    if (!df.isEmpty) writeDeadLetters(df, warehouse, feed, batchId)

  /** [[appendDeadLetters]] for a caller that knows `df` is not empty. */
  def writeDeadLetters(df: DataFrame, warehouse: Warehouse, feed: String,
      batchId: Long): Unit =
    idempotentAppend(df, warehouse, s"dead_letters/feed=$feed", batchId)

  /** Idempotent un-dated append (bridge tables like `inbox_tocc`):
    * overwrite-by-batchId, partitioned by `batch_id` only.
    */
  def idempotentAppend(df: DataFrame, warehouse: Warehouse, table: String,
      batchId: Long): Unit = {
    deleteBatchDirs(df.sparkSession, warehouse.path(table), s"batch_id=$batchId")
    df.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(warehouse.path(table))
  }

  /** Remove a batch's partition directories (glob relative to `root`) so a
    * replayed batch rewrites exactly its own output.
    */
  private def deleteBatchDirs(spark: SparkSession, root: String,
      glob: String): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) {
      val hits = fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/$glob"))
      if (hits != null) hits.foreach(s => fs.delete(s.getPath, true))
    }
  }

  /** W2 — dimension upsert ("lookup-or-insert", maillog.py:66-78).
    *
    * Set-based MERGE semantics: new (realname, email_address) pairs absent from
    * the stored dimension get surrogate ids `maxId + row_number() OVER (ORDER
    * BY realname, email_address)`, so ids are stable across replays of the
    * same batch (SURVEY §7.4 risk 3). A pair matches a stored pair by SQL `=`:
    * a pair with a NULL field never matches, so it is inserted again by every
    * upsert that carries it. Returns the full refreshed dimension.
    *
    * Scale: the dimension is DRIVER-RESIDENT — it is already the lookup side
    * of the mail ingest and the broadcast side of Q3, so the merge runs on
    * the driver: this form collects the batch's distinct pairs (one job) and
    * merges them with the row form below.
    */
  def upsertContacts(newContacts: DataFrame, warehouse: Warehouse,
      lockTimeoutMs: Long = ContactsLockTimeoutMs,
      maxAttempts: Int = ContactsMaxAttempts): DataFrame = {
    val spark = newContacts.sparkSession
    dimension(spark, upsertContacts(spark,
      newContacts.select(col("realname"), col("email_address")).distinct()
        .collect().toSeq,
      warehouse, lockTimeoutMs, maxAttempts))
  }

  /** [[upsertContacts]]' lease on a claim lock, and its budget of claim
    * attempts without progress.
    */
  val ContactsLockTimeoutMs: Long = 10 * 60 * 1000L
  val ContactsMaxAttempts: Int = 600

  /** [[upsertContacts]] over `pairs` (realname, email_address) already on
    * the driver; returns the refreshed dimension's rows (id, realname,
    * email_address). One scan collects the committed snapshot, and nothing
    * else runs unless a pair is new. A merge with nothing new over a
    * versioned snapshot commits NOTHING (no claim, no write, no GC) and
    * returns the snapshot it read — every later version is a superset of
    * it, so its ids stay current. With a transactional format this body
    * becomes `MERGE INTO contacts USING batch ON name=n AND email=e WHEN NOT
    * MATCHED THEN INSERT`.
    */
  def upsertContacts(spark: SparkSession, pairs: Seq[Row], warehouse: Warehouse,
      lockTimeoutMs: Long, maxAttempts: Int): Seq[Row] = {
    val path = warehouse.path("inbox_contacts")
    val basePath = new org.apache.hadoop.fs.Path(path)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-versioning swap-crash healing renames directories — WRITER-only
    // (a reader doing this could rename under a committing writer's feet)
    recoverSwap(spark, path)
    // a pair given twice must not get two ids
    val batch = pairs.distinct.toArray
    // Versioned-snapshot commit (the minimal core of a transactional table
    // format, object-store friendly — no directory renames anywhere):
    //  - each refresh writes a NEW immutable `v-NNNNNNNN` directory; the
    //    committer writes `_SUCCESS` last, and that file IS the commit marker;
    //  - readers resolve the highest version with `_SUCCESS`, so a torn write
    //    (no `_SUCCESS`) is simply invisible and the previous snapshot keeps
    //    serving — there is no instant at which the table is absent;
    //  - CONCURRENT writers serialize through a per-version claim marker
    //    (`v-NNNNNNNN.lock`, atomic create-if-absent): version N can only be
    //    written while holding lock N, and lock N is released only after
    //    N's `_SUCCESS` — so the merge base (the highest committed version at
    //    claim time) cannot be superseded while the merge runs, and no
    //    committed batch is ever silently overwritten. A loser re-resolves
    //    and re-merges against the winner's output (maillog.py:16's
    //    UNIQUE-constraint serialization, set-based). The post-claim
    //    `_SUCCESS` re-check closes the resolve→claim race with a holder
    //    that committed and released in between.
    //  - a lock whose holder crashed mid-write (lock present, no `_SUCCESS`,
    //    untouched for `lockTimeoutMs`) is stolen: torn dir + lock removed,
    //    claim retried. The lease trade-off is standard: a writer stalled
    //    longer than the timeout could be stolen from, so size the timeout
    //    well above a merge's worst case. Atomic create-if-absent holds on
    //    HDFS and local FS; on an eventually-consistent object store use a
    //    real table format's conditional commit instead.
    // Reference invariant: per-row txn + UNIQUE(realname, email_address),
    // maillog.py:16, core.py:46-48.
    var attempt = 0
    var lastSeenVersion = -1L
    var existing = Array.empty[Row]
    while (true) {
      attempt += 1
      if (attempt > maxAttempts)
        throw new IllegalStateException(
          s"upsertContacts: could not claim a version after $maxAttempts attempts ($path)")
      val (committedVersion, existingPaths) = resolveCommitted(fs, path)
      // the attempt budget bounds time WITHOUT progress: any newly committed
      // version proves the system is live (we lost a fair race), so the
      // clock restarts — healthy contention never exhausts the budget.
      // A committed version is immutable, so it is read once per version.
      if (committedVersion > lastSeenVersion) {
        lastSeenVersion = committedVersion
        attempt = 1
        existing =
          try {
            if (existingPaths.isEmpty) Array.empty[Row]
            else spark.read.schema(graft.model.Schemas.contacts)
              .parquet(existingPaths: _*).collect()
          } catch {
            // read before any claim: GC keeps the current and the previous
            // version, so this read outlives one later commit. If two more
            // landed meanwhile the version is gone — start over on the newest.
            case NonFatal(_) if resolveCommitted(fs, path)._1 > committedVersion + 1 =>
              return upsertContacts(spark, pairs, warehouse, lockTimeoutMs, maxAttempts)
          }
      }
      val fresh = freshContacts(existing, batch)
      // version 0 (no table, or the legacy root layout) always commits, so
      // the next upsert migrates a legacy warehouse
      if (fresh.isEmpty && committedVersion > 0) return existing.toSeq
      val next = committedVersion + 1
      val target = new org.apache.hadoop.fs.Path(path, f"v-$next%08d")
      val lock = new org.apache.hadoop.fs.Path(path, f"v-$next%08d.lock")
      if (graft.ops.IndexFs.tryClaim(fs, lock.toString)) {
        if (fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) {
          // `next` was committed between our resolve and claim (the previous
          // holder releases its lock only after _SUCCESS): stale merge base
          fs.delete(lock, false)
        } else {
          val merged = (existing ++ fresh).toSeq
          try {
            // SaveMode.Overwrite reclaims a torn directory from a crashed
            // (stolen or pre-lock) earlier attempt at the same version
            dimension(spark, merged).coalesce(1).write.mode(SaveMode.Overwrite)
              .parquet(target.toString)
            gcOldSnapshots(spark, path, keepFrom = next - 1)
          } finally fs.delete(lock, false)
          return merged
        }
      } else {
        // lock held by another writer: wait for its commit, or steal from a
        // crashed holder once the lock is stale and `next` never committed
        val stale =
          try {
            val st = fs.getFileStatus(lock)
            System.currentTimeMillis() - st.getModificationTime > lockTimeoutMs
          } catch { case _: java.io.FileNotFoundException => false }
        if (stale && !fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) {
          fs.delete(target, true)
          fs.delete(lock, false)
        } else Thread.sleep(50L * math.min(attempt, 20))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The batch `pairs` absent from `existing`, with ids `maxId + rank` in
    * Spark's sort order of (realname, email_address) — the ids
    * `row_number() OVER (ORDER BY realname, email_address)` would give.
    */
  private def freshContacts(existing: Array[Row], pairs: Array[Row]): Array[Row] = {
    val known = existing.iterator.map(r => (r.getString(1), r.getString(2))).toSet
    val maxId = if (existing.isEmpty) 0L else existing.iterator.map(_.getLong(0)).max
    pairs
      // SQL `=`: a pair with a NULL field never matches a stored pair
      .filter(r => r.isNullAt(0) || r.isNullAt(1) ||
        !known((r.getString(0), r.getString(1))))
      .sortBy(r => (Option(r.getString(0)), Option(r.getString(1))))(
        Ordering.Tuple2(Ordering.Option(F.utf8Order), Ordering.Option(F.utf8Order)))
      .zipWithIndex.map { case (r, i) =>
        Row(maxId + i + 1, r.getString(0), r.getString(1))
      }
  }

  /** The contacts dimension as a driver-side frame. Every field is
    * nullable, as a Parquet read of the table gives it, so the snapshot
    * files keep their schema and the frame [[upsertContacts]] returns has
    * the schema of a read.
    */
  private def dimension(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(graft.model.Schemas.contacts.map(_.copy(nullable = true))))

  private[ingest] val VersionDirRe = ".*/v-(\\d{8})$".r
  private[ingest] val LockFileRe = ".*/v-(\\d{8})\\.lock$".r

  /** Writer-side resolution of the committed state: (version, data paths).
    * Version 0 = no versioned commit yet; the paths are then the legacy
    * root `part-` files (explicit file list — a torn v-dir nested under the
    * legacy layout is simply not read, never deleted by resolution) or empty
    * when the table does not exist.
    */
  private def resolveCommitted(fs: org.apache.hadoop.fs.FileSystem,
      base: String): (Long, Seq[String]) = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val listing =
      if (fs.exists(basePath)) fs.listStatus(basePath)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val committed = listing.collect {
      case st if st.isDirectory =>
        st.getPath.toString match {
          case VersionDirRe(n)
            if fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
            Some((n.toLong, st.getPath))
          case _ => None
        }
    }.flatten
    if (committed.nonEmpty) {
      val (v, p) = committed.maxBy(_._1)
      (v, Seq(p.toString))
    } else
      (0L, listing.collect {
        case st if st.isFile && st.getPath.getName.startsWith("part-") =>
          st.getPath.toString
      }.toSeq)
  }

  /** READ-ONLY snapshot resolution: the parquet paths a reader should load.
    * Never mutates storage — a reader racing a writer must not delete or
    * rename anything the writer is committing into (torn-state healing is
    * writer-only, inside [[upsertContacts]]). Resolution order:
    *  - highest `v-NNNNNNNN` child containing `_SUCCESS`;
    *  - legacy un-versioned layout: the root `part-` files, as an EXPLICIT
    *    file list so a torn first versioned commit (v-dir without `_SUCCESS`)
    *    is simply not read — never deleted;
    *  - a pre-versioning swap crash with the live dir absent: a COMPLETE
    *    `__staging` (its `_SUCCESS` proves it), else `__old` — read in
    *    place, without performing the writer's healing renames.
    * Returns None when the table does not exist at all.
    */
  def snapshotPaths(spark: SparkSession, base: String): Option[Seq[String]] = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // steady state costs ONE listing; the extra filesystem work below happens
    // only in crash-recovery states
    val listing =
      if (fs.exists(basePath)) fs.listStatus(basePath)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val versionDirs = listing.collect {
      case st if st.isDirectory =>
        st.getPath.toString match {
          case VersionDirRe(n) => Some((n.toLong, st.getPath))
          case _ => None
        }
    }.flatten
    val committed = versionDirs.filter { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    }
    if (committed.nonEmpty) Some(Seq(committed.maxBy(_._1)._2.toString))
    else {
      val legacyFiles = listing.collect {
        case st if st.isFile && st.getPath.getName.startsWith("part-") =>
          st.getPath.toString
      }
      if (legacyFiles.nonEmpty) Some(legacyFiles.toSeq)
      else if (versionDirs.nonEmpty) None // only torn writes: no committed table yet
      else {
        val staging = new org.apache.hadoop.fs.Path(base + "__staging")
        val old = new org.apache.hadoop.fs.Path(base + "__old")
        if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")))
          Some(Seq(staging.toString))
        else if (fs.exists(old)) Some(Seq(old.toString))
        else None
      }
    }
  }

  /** Committed, still-retained snapshot versions under `base`, ascending —
    * the TIME-TRAVEL window. [[snapshotGc]] keeps current + previous, so
    * this normally lists the last two commits (plus any the GC has not yet
    * swept); a version outside this list is unreachable by design, exactly
    * like a vacuumed Delta/Iceberg table.
    */
  def snapshotVersions(spark: SparkSession, base: String): Seq[Long] = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(basePath)) return Seq.empty
    fs.listStatus(basePath).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.toString match {
          case VersionDirRe(n) if fs.exists(
            new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
            Some(n.toLong)
          case _ => None
        }
    }.flatten.sorted
  }

  /** The path of one EXACT committed snapshot version, if retained. */
  def snapshotPathAt(spark: SparkSession, base: String,
      version: Long): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(base, f"v-$version%08d")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      Some(p.toString)
    else None
  }

  /** Retain the current and previous snapshots (short-lived readers of the
    * prior version finish against immutable files); delete older versions and
    * their leftover lock markers (a crash between `_SUCCESS` and lock release
    * leaves a lock on a committed version — harmless, cleaned here), and
    * clear pre-versioning legacy files once a versioned snapshot is
    * committed. Torn higher-numbered directories from a crashed concurrent
    * writer are reclaimed by the claim protocol (steal-on-stale), not GC.
    */
  private def gcOldSnapshots(spark: SparkSession, base: String, keepFrom: Long): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(basePath).foreach { st =>
      st.getPath.toString match {
        case VersionDirRe(n) if st.isDirectory && n.toLong < keepFrom =>
          fs.delete(st.getPath, true)
        case LockFileRe(n) if st.isFile && n.toLong <= keepFrom =>
          fs.delete(st.getPath, false)
        case _ =>
          // legacy layout leftovers: root part-files, _SUCCESS, __old/__staging
          val name = st.getPath.getName
          if (name.startsWith("part-") || name == "_SUCCESS")
            fs.delete(st.getPath, false)
      }
    }
    val old = new org.apache.hadoop.fs.Path(base + "__old")
    val staging = new org.apache.hadoop.fs.Path(base + "__staging")
    fs.delete(old, true)
    fs.delete(staging, true)
  }

  /** Self-heal a PRE-VERSIONING staged swap interrupted between its two
    * renames (kept for transparent upgrade of old warehouses; the versioned
    * commit above never renames). States and recovery:
    *  - staging write died mid-flight → `live` still present: no-op;
    *  - after `rename(live, old)`, before `rename(staging, live)` → `live`
    *    absent, staging COMPLETE (`_SUCCESS` proves it): promote staging;
    *  - staging incomplete and `live` absent → fall back to `__old` (loses
    *    only the crashed batch, which the caller replays idempotently).
    */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live)) return
    val staging = new org.apache.hadoop.fs.Path(path + "__staging")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val stagingComplete = fs.exists(staging) &&
      fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
    if (stagingComplete) {
      fs.rename(staging, live)
      fs.delete(old, true) // finish the interrupted swap
    } else if (fs.exists(old)) {
      fs.rename(old, live)
      fs.delete(staging, true)
    }
  }
}
