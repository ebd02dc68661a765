package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.{Ingest, Warehouse}

/** Ingest writers: partitioned append, dead letters, and the contacts MERGE
  * (reference W1/W2/W5; maillog.py:66-78 lookup-or-insert semantics).
  */
class IngestSpec extends GraftSpec {
  import spark.implicits._

  private def tmpWarehouse(): Warehouse = Warehouse(tempDir("graft-wh").toString)

  test("upsertContacts assigns stable surrogate ids and never duplicates") {
    val wh = tmpWarehouse()
    val batch1 = Seq(("Alice", "alice@a.example"), ("Bob", "bob@b.example"))
      .toDF("realname", "email_address")
    val c1 = Ingest.upsertContacts(batch1, wh).orderBy("id").collect()
    assert(c1.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "Alice"), (2L, "Bob")))

    // second batch: one known, one new -> known keeps id, new gets maxId+1
    val batch2 = Seq(("Bob", "bob@b.example"), ("Carol", "carol@c.example"),
      ("Bob", "bob@b.example")).toDF("realname", "email_address")
    val c2 = Ingest.upsertContacts(batch2, wh).orderBy("id").collect()
    assert(c2.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "Alice"), (2L, "Bob"), (3L, "Carol")))

    // same (realname, email) twice in one batch deduplicates (UNIQUE constraint,
    // maillog.py:16); same name with different address is a distinct contact
    val batch3 = Seq(("Bob", "bob@other.example")).toDF("realname", "email_address")
    val c3 = Ingest.upsertContacts(batch3, wh)
    assert(c3.count() === 4)
  }

  test("upsertContacts ids follow Spark's UTF-8 sort, and a pair with a " +
      "NULL field is inserted again by every upsert") {
    val wh = tmpWarehouse()
    // "Ａ" (U+FF21) sorts after "😀" (a surrogate pair) in UTF-16 code
    // units, before it in UTF-8 bytes
    assert("😀" < "Ａ")
    val batch = Seq(("😀", "smile@x.example"), ("Ａ", "wide@x.example"),
      ("Ａ", "a@x.example"), ("é", "e@x.example"), ("Zed", "z@x.example"),
      (null, "anon@x.example"), ("Zed", null))
      .toDF("realname", "email_address")
    def byPair(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[String]("realname"), r.getAs[String]("email_address")) ->
        r.getAs[Number]("id").longValue).toMap
    val want = byPair(batch.withColumn("id", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("realname", "email_address")))
      .collect())
    assert(byPair(Ingest.upsertContacts(batch, wh).collect()) === want)
    assert(byPair(wh.contacts(spark).collect()) === want)

    // SQL `=` never matches NULL: both NULL-field pairs land again, after
    // maxId, in the same order; the known pairs keep their ids
    Ingest.upsertContacts(batch, wh)
    val rows = wh.contacts(spark).collect()
    assert(rows.length === 9)
    val nulls = rows.filter(r => r.isNullAt(1) || r.isNullAt(2))
      .map(r => (Option(r.getString(1)), r.getLong(0))).sortBy(_._2).toSeq
    assert(nulls === Seq((None, want((null, "anon@x.example"))),
      (Some("Zed"), want(("Zed", null))), (None, 8L), (Some("Zed"), 9L)))
  }

  test("appendEvents partitions by event date (pruning layout)") {
    val wh = tmpWarehouse()
    val df = Seq(
      ("2026-08-10 23:00:00", "a"),
      ("2026-08-11 01:00:00", "b"))
      .toDF("ts", "username")
      .select(col("ts").cast("timestamp").as("timestamp"), col("username"),
        lit("1.2.3.4").as("src_addr"))
    Ingest.appendEvents(df, wh, "authfail")
    val dirs = new java.io.File(wh.path("authfail")).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs === Array("event_date=2026-08-10", "event_date=2026-08-11"))
    assert(wh.authfail(spark).count() === 2)
  }

  test("date predicate prunes partitions on the warehouse layout") {
    val wh = tmpWarehouse()
    val df = Seq(
      ("2026-08-10 23:00:00", "a"), ("2026-08-11 01:00:00", "b"))
      .toDF("ts", "username")
      .select(col("ts").cast("timestamp").as("timestamp"), col("username"),
        lit("1.2.3.4").as("src_addr"))
    Ingest.appendEvents(df, wh, "authfail")
    val q = wh.authfail(spark)
      .filter(col("event_date") === java.sql.Date.valueOf("2026-08-11"))
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters"))
    assert(q.count() === 1)
    // the scan must not read the other day's files
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("event_date"), "partition column missing from scan")
  }

  test("appendEvents with the same batchId overwrites, not duplicates (idempotent redelivery)") {
    val wh = tmpWarehouse()
    val df = Seq(("2026-08-10 23:00:00", "a"), ("2026-08-11 01:00:00", "b"))
      .toDF("ts", "username")
      .select(col("ts").cast("timestamp").as("timestamp"), col("username"),
        lit("1.2.3.4").as("src_addr"))
    Ingest.appendEvents(df, wh, "authfail", batchId = 3L)
    Ingest.appendEvents(df, wh, "authfail", batchId = 3L) // redelivered batch
    assert(wh.authfail(spark).count() === 2)
    Ingest.appendEvents(df, wh, "authfail", batchId = 4L) // a NEW batch appends
    assert(wh.authfail(spark).count() === 4)
  }

  test("versioned contact snapshots survive every crash point (no renames)") {
    val wh = tmpWarehouse()
    val base = wh.path("inbox_contacts")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dim = wh.contacts(spark).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))

    Ingest.upsertContacts(
      Seq(("Alice", "alice@a.example")).toDF("realname", "email_address"), wh)
    Ingest.upsertContacts(
      Seq(("Bob", "bob@b.example")).toDF("realname", "email_address"), wh)
    assert(dim === Seq((1L, "Alice"), (2L, "Bob")))
    // current + previous snapshots retained, both immutable
    assert(exists(s"$base/v-00000001") && exists(s"$base/v-00000002"))

    // crash point A: a torn NEXT-version write (directory exists, no _SUCCESS
    // — the committer writes it last). Readers must keep serving v2.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/v-00000003"))
    assert(dim === Seq((1L, "Alice"), (2L, "Bob")),
      "a torn write must be invisible to readers")

    // the crashed batch replays: the writer recomputes next = v3 and
    // SaveMode.Overwrite reclaims the torn directory
    Ingest.upsertContacts(
      Seq(("Carol", "carol@c.example")).toDF("realname", "email_address"), wh)
    assert(dim === Seq((1L, "Alice"), (2L, "Bob"), (3L, "Carol")))
    assert(exists(s"$base/v-00000003/_SUCCESS"))
    assert(!exists(s"$base/v-00000001"), "older snapshots are GC'd (keep 2)")

    // legacy upgrade: a pre-versioning warehouse (plain parquet at the table
    // root) reads as-is and is migrated by its next upsert
    val wh2 = tmpWarehouse()
    Seq((1L, "Alice", "alice@a.example")).toDF("id", "realname", "email_address")
      .write.parquet(wh2.path("inbox_contacts"))
    assert(wh2.contacts(spark).count() === 1)
    Ingest.upsertContacts(
      Seq(("Bob", "bob@b.example")).toDF("realname", "email_address"), wh2)
    val base2 = wh2.path("inbox_contacts")
    assert(exists(s"$base2/v-00000001/_SUCCESS"))
    assert(wh2.contacts(spark).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "Alice"), (2L, "Bob")))
    // legacy root files cleared so the layout is purely versioned
    val rootFiles = fs.listStatus(new org.apache.hadoop.fs.Path(base2))
      .filter(_.isFile).map(_.getPath.getName).toSeq
    assert(rootFiles.isEmpty, s"legacy files should be GC'd, found $rootFiles")

    // legacy swap-crash healing still works on the way in: table root absent,
    // complete __old left by a pre-versioning crash → promoted, then read
    val wh3 = tmpWarehouse()
    Seq((1L, "Zoe", "zoe@z.example")).toDF("id", "realname", "email_address")
      .write.parquet(wh3.path("inbox_contacts") + "__old")
    assert(wh3.contacts(spark).count() === 1)

    // crash point B: the FIRST versioned commit over a legacy warehouse dies
    // mid-write (torn v-dir with data files, no _SUCCESS) — readers must see
    // exactly the legacy rows, never the torn files, and the replayed upsert
    // must rebuild v1 from the legacy data alone
    val wh4 = tmpWarehouse()
    val base4 = wh4.path("inbox_contacts")
    Seq((1L, "Ann", "ann@a.example")).toDF("id", "realname", "email_address")
      .write.parquet(base4)
    val torn = new org.apache.hadoop.fs.Path(s"$base4/v-00000001")
    Seq((1L, "Ann", "ann@a.example"), (1L, "Ann", "ann@a.example"))
      .toDF("id", "realname", "email_address").write.parquet(torn.toString)
    fs.delete(new org.apache.hadoop.fs.Path(torn, "_SUCCESS"), false)
    val legacyRead = wh4.contacts(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(legacyRead === Seq((1L, "Ann")), "torn v-dir must not leak into reads")
    // READERS never mutate storage: the torn dir survives the read (deleting
    // it could race the very writer committing into it) and is reclaimed by
    // the replaying WRITER below (SaveMode.Overwrite on the claimed version)
    assert(fs.exists(torn), "a reader must not heal (mutate) the table")
    val replayed = Ingest.upsertContacts(
      Seq(("Bob", "bob@b.example")).toDF("realname", "email_address"), wh4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(replayed === Seq((1L, "Ann"), (2L, "Bob")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base4/v-00000001/_SUCCESS")))
  }

  test("concurrent upsertContacts writers both land (claim-serialized commit)") {
    val wh = tmpWarehouse()
    // seed so both writers start from the same committed version
    Ingest.upsertContacts(
      Seq(("Seed", "seed@s.example")).toDF("realname", "email_address"), wh)
    val batches = Seq(
      Seq(("Alice", "alice@a.example"), ("Bob", "bob@b.example")),
      Seq(("Carol", "carol@c.example"), ("Dave", "dave@d.example")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = batches.map { b =>
      scala.concurrent.Future {
        Ingest.upsertContacts(b.toDF("realname", "email_address"), wh)
      }
    }
    import scala.concurrent.duration._
    futures.foreach(f => scala.concurrent.Await.result(f, 120.seconds))
    pool.shutdown()
    val names = wh.contacts(spark).select("realname")
      .collect().map(_.getString(0)).toSet
    assert(names === Set("Seed", "Alice", "Bob", "Carol", "Dave"),
      "a concurrent writer's batch was silently dropped")
    // ids stay dense and unique across the serialized merges
    val ids = wh.contacts(spark).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 5L))
  }

  test("a stale lock from a crashed writer is stolen, not deadlocked") {
    val wh = tmpWarehouse()
    val base = wh.path("inbox_contacts")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Ingest.upsertContacts(
      Seq(("Alice", "alice@a.example")).toDF("realname", "email_address"), wh)
    // a writer crashed after claiming v2: lock present, torn dir, no _SUCCESS
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/v-00000002"))
    fs.create(new org.apache.hadoop.fs.Path(s"$base/v-00000002.lock"), false).close()
    val merged = Ingest.upsertContacts(
      Seq(("Bob", "bob@b.example")).toDF("realname", "email_address"), wh,
      lockTimeoutMs = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(merged === Seq((1L, "Alice"), (2L, "Bob")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/v-00000002/_SUCCESS")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v-00000002.lock")),
      "the released lock must not linger")
  }

  test("appendEvents bounds files per (date, batch) leaf at the salt width") {
    val wh = tmpWarehouse()
    // 8 input partitions spanning 2 dates: without the pre-write repartition
    // this would write up to 8 files into EACH date leaf; with the salted
    // repartition the bound is writersPerDate (default: shuffle partitions)
    val rows = spark.range(0, 400, 1, 8)
      .selectExpr(
        "timestamp_micros(CAST(1754784000000000 + (id % 2) * 86400000000 AS LONG)) AS timestamp",
        "CAST(id AS STRING) AS payload")
    Ingest.appendEvents(rows, wh, "apache_access", batchId = 1)
    val b = spark.sessionState.conf.numShufflePartitions
    val base = new org.apache.hadoop.fs.Path(wh.path("apache_access"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"${wh.path("apache_access")}/*/batch_id=1"))
    assert(leaves.length === 2, "two event_date partitions")
    leaves.foreach { leaf =>
      val files = fs.listStatus(leaf.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
      assert(files.length >= 1 && files.length <= b,
        s"${leaf.getPath.getName}: expected 1..$b files, got ${files.length}")
    }
    assert(wh.apache(spark).count() === 400)
  }

  test("appendEvents fans a single-date batch out across multiple writer tasks") {
    val wh = tmpWarehouse()
    // ONE date (the steady-daily-feed shape): repartition(event_date) alone
    // would funnel all 400 rows through a single writer task; the salted
    // shuffle must spread them across >1 task (observable as >1 output file,
    // since each task writes at most one file per leaf)
    val rows = spark.range(0, 400, 1, 8)
      .selectExpr(
        "timestamp_micros(1754784000000000) AS timestamp",
        "CAST(id AS STRING) AS payload")
    // AQE's partition coalescing rightly collapses a tiny test batch into one
    // task (the funnel only matters for batches past the advisory partition
    // size, where AQE keeps them apart) — turn it off here to observe the
    // partitioning KEY shape the big-batch case relies on
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try Ingest.appendEvents(rows, wh, "apache_access", batchId = 7, writersPerDate = 8)
    finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
    val base = new org.apache.hadoop.fs.Path(wh.path("apache_access"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"${wh.path("apache_access")}/*/batch_id=7"))
    assert(leaves.length === 1, "single event_date partition")
    val files = fs.listStatus(leaves(0).getPath)
      .filter(_.getPath.getName.startsWith("part-"))
    assert(files.length > 1,
      s"hot date must not serialize through one writer, got ${files.length} file(s)")
    assert(wh.apache(spark).count() === 400)
  }

  test("bucketed tables join and aggregate with zero shuffle exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dir = Files.createTempDirectory("graft-bkt")
    val facts = (1L to 400L).map(i => (i % 40, i, s"t${i % 5}"))
      .toDF("user_id", "event_id", "event_type")
    val dim = (0L until 40L).map(i => (i, s"user$i")).toDF("user_id", "name")
    Ingest.writeBucketed(facts, "bkt_facts", s"$dir/facts", "user_id", 4,
      sortCols = Seq("user_id"))
    Ingest.writeBucketed(dim, "bkt_dim", s"$dir/dim", "user_id", 4,
      sortCols = Seq("user_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bkt_facts").join(spark.table("bkt_dim"), "user_id")
      val agged = spark.table("bkt_facts").groupBy("user_id").count()
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect { case s: ShuffleExchangeLike => s }.size
      assert(shuffles(joined) === 0,
        "same-bucket-count equi-join must use the write-time partitioning")
      assert(shuffles(agged) === 0,
        "groupBy on the bucket key must use the write-time partitioning")
      assert(joined.count() === 400)
      // and the answers match the un-bucketed plans
      val plainJoin = facts.join(dim, "user_id")
      assert(joined.orderBy("event_id").collect() ===
        plainJoin.orderBy("event_id").collect())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_facts")
      spark.sql("DROP TABLE IF EXISTS bkt_dim")
    }
  }

  test("compaction merges batch leaves behind an atomic marker flip") {
    import org.apache.spark.sql.functions._
    val wh = tmpWarehouse()
    val base = new org.apache.hadoop.fs.Path(wh.path("authfail"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkBatch(day: Int, b: Long): Unit = {
      val df = spark.range(b * 10, b * 10 + 10, 1, 2)
        .selectExpr(
          s"timestamp_micros(1754784000000000 + $day * 86400000000) AS timestamp",
          "CAST(id AS STRING) AS username")
        .withColumn("src_addr", lit("1.2.3.4"))
      Ingest.appendEvents(df, wh, "authfail", batchId = b)
    }
    // 6 batches on day 0, 2 on day 1
    (0L to 5L).foreach(mkBatch(0, _))
    (6L to 7L).foreach(mkBatch(1, _))
    val before = wh.authfail(spark).count()
    assert(before === 80)
    def leaves(day: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(base, s"event_date=$day"))
        .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq

    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 4, keepLatest = 2)
    // day 0: batches 0-3 compacted into gen 1 (sources kept for in-flight
    // readers — GC'd by the NEXT run), 4-5 kept for replay; day 1: below
    // minLeaves, untouched
    assert(leaves("2025-08-10") === Seq("batch_id=-1", "batch_id=0",
      "batch_id=1", "batch_id=2", "batch_id=3", "batch_id=4", "batch_id=5"))
    assert(leaves("2025-08-11") === Seq("batch_id=6", "batch_id=7"))
    assert(wh.authfail(spark).count() === before,
      "covered sources must not double-count while they await GC")
    // partition pruning survives the path-resolved read
    val q = wh.authfail(spark)
      .filter(col("event_date") === java.sql.Date.valueOf("2025-08-11"))
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(q.count() === 20)
    // a NEW batch after compaction appends and reads normally
    mkBatch(0, 8L)
    assert(wh.authfail(spark).count() === before + 10)
    // the second run first GCs gen 1's covered sources, then compacts the
    // survivors + gen 1 into gen 2 (gen 1 + its sources now await next GC)
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 2, keepLatest = 1)
    assert(leaves("2025-08-10") === Seq("batch_id=-1", "batch_id=-2",
      "batch_id=4", "batch_id=5", "batch_id=8"))
    assert(wh.authfail(spark).count() === before + 10)
    // a third (below-threshold) run leaves only the live state
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 99, keepLatest = 1)
    assert(leaves("2025-08-10") === Seq("batch_id=-2", "batch_id=8"))
    assert(wh.authfail(spark).count() === before + 10)
  }

  test("fact-table time travel: as-of reads survive compaction, evict loudly") {
    import org.apache.spark.sql.functions._
    val wh = tmpWarehouse()
    def mkBatch(b: Long): Unit = {
      val df = spark.range(b * 10, b * 10 + 10, 1, 2)
        .selectExpr("timestamp_micros(1754784000000000) AS timestamp",
          "CAST(id AS STRING) AS username")
        .withColumn("src_addr", lit("1.2.3.4"))
      Ingest.appendEvents(df, wh, "authfail", batchId = b)
    }
    (0L to 5L).foreach(mkBatch)
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 4, keepLatest = 2) // gen 1 covers 0-3, live = {4, 5}
    assert(wh.tableVersions(spark, "authfail") === Seq(1L))
    // new batches arrive AFTER gen 1 committed: the as-of view must exclude
    // them — v1 is the state at commit time, not the current state
    (8L to 9L).foreach(mkBatch)
    assert(wh.authfail(spark).count() === 80)
    val v1 = wh.tableAt(spark, "authfail", 1L)
    assert(v1.count() === 60, "v1 = gen 1 + its recorded live batches only")
    assert(v1.agg(max(col("username").cast("long"))).head().getLong(0) === 59)
    // a second compaction supersedes gen 1 but does NOT GC it in the same
    // run: v1 stays reproducible through the grace window
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 2, keepLatest = 1) // gen 2 covers 0-8, live = {9}
    assert(wh.tableVersions(spark, "authfail") === Seq(1L, 2L))
    assert(wh.tableAt(spark, "authfail", 1L).count() === 60,
      "previous generation must stay readable until the next GC sweep")
    assert(wh.tableAt(spark, "authfail", 2L).count() === 80)
    // version numbers between/past generations resolve to the newest gen <=
    // version; versions before the first are never readable
    assert(wh.tableAt(spark, "authfail", 99L).count() === 80)
    intercept[IllegalArgumentException](wh.tableAt(spark, "authfail", 0L))
    // the NEXT run's GC sweep evicts gen 1's read set: the as-of read must
    // fail loudly with the retained list, never silently re-resolve
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 99, keepLatest = 1) // below threshold: GC only
    assert(wh.tableVersions(spark, "authfail") === Seq(2L))
    val e = intercept[NoSuchElementException](
      wh.tableAt(spark, "authfail", 1L))
    assert(e.getMessage.contains("v1") && e.getMessage.contains("2"),
      s"eviction must name the version and the retained list: ${e.getMessage}")
    assert(wh.tableAt(spark, "authfail", 2L).count() === 80,
      "current generation stays readable after the sweep")
  }

  test("fact-table as-of pins uncompacted dates: no post-commit leak") {
    import org.apache.spark.sql.functions._
    val wh = tmpWarehouse()
    def mkBatch(b: Long, day: String): Unit = {
      val df = spark.range(0, 10, 1, 1)
        .selectExpr(s"to_timestamp('$day 00:00:00') AS timestamp",
          "CAST(id AS STRING) AS username")
        .withColumn("src_addr", lit("1.2.3.4"))
      Ingest.appendEvents(df, wh, "authfail", batchId = b)
    }
    // date A compactable (4 leaves), date B below threshold (2 leaves)
    (0L to 3L).foreach(mkBatch(_, "2025-08-10"))
    (4L to 5L).foreach(mkBatch(_, "2025-08-11"))
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 3, keepLatest = 1) // A: gen 1 covers 0-2, live {3}; B untouched
    assert(wh.tableVersions(spark, "authfail") === Seq(1L))
    assert(wh.tableAt(spark, "authfail", 1L).count() === 60)
    // the pre-manifest resolver read uncompacted dates AS-CURRENT, so a
    // batch landing on date B after v1 committed leaked into "as of v1" —
    // the manifest pins B's read set at commit time instead
    mkBatch(6L, "2025-08-11")
    assert(wh.authfail(spark).count() === 70)
    assert(wh.tableAt(spark, "authfail", 1L).count() === 60,
      "uncompacted dates must be pinned by the manifest, not read as-current")
    // a brand-new date created after the commit must not appear either
    mkBatch(7L, "2025-08-12")
    assert(wh.authfail(spark).count() === 80)
    assert(wh.tableAt(spark, "authfail", 1L).count() === 60,
      "dates created after the commit are absent from the manifest")
  }

  test("compaction skips a locked date and steals a stale lock") {
    val wh = tmpWarehouse()
    val base = new org.apache.hadoop.fs.Path(wh.path("authfail"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 3L).foreach { b =>
      val df = spark.range(b * 10, b * 10 + 10, 1, 2)
        .selectExpr("timestamp_micros(1754784000000000) AS timestamp",
          "CAST(id AS STRING) AS username")
        .withColumn("src_addr", lit("1.2.3.4"))
      Ingest.appendEvents(df, wh, "authfail", batchId = b)
    }
    val day = new org.apache.hadoop.fs.Path(base, "event_date=2025-08-10")
    val lock = new org.apache.hadoop.fs.Path(day, "_graft_compact.lock")
    fs.create(lock, false).close()
    // a concurrently-held (fresh) lock: the date is skipped entirely
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 2, keepLatest = 1)
    assert(!fs.listStatus(day).exists(_.getPath.getName.startsWith("batch_id=-")),
      "a locked date must not be compacted")
    // a stale lock (crashed holder) is stolen and the date compacts
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 2, keepLatest = 1, lockTimeoutMs = 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(day, "batch_id=-1/_GRAFT_COMPACTED")))
    assert(!fs.exists(lock), "the lock must be released after the run")
    assert(wh.authfail(spark).count() === 40)
  }

  test("compaction crash points: torn leaf invisible, marker makes GC lazy") {
    import org.apache.spark.sql.functions._
    val wh = tmpWarehouse()
    val base = new org.apache.hadoop.fs.Path(wh.path("authfail"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkBatch(b: Long): Unit = {
      val df = spark.range(b * 10, b * 10 + 10, 1, 2)
        .selectExpr("timestamp_micros(1754784000000000) AS timestamp",
          "CAST(id AS STRING) AS username")
        .withColumn("src_addr", lit("1.2.3.4"))
      Ingest.appendEvents(df, wh, "authfail", batchId = b)
    }
    (0L to 3L).foreach(mkBatch)
    val day = new org.apache.hadoop.fs.Path(base, "event_date=2025-08-10")

    // crash point A: generation leaf fully written but NO marker — readers
    // must keep serving the source leaves only (no double count, no loss)
    val torn = new org.apache.hadoop.fs.Path(day, "batch_id=-1")
    spark.range(0, 999).selectExpr(
        "timestamp_micros(1754784000000000) AS timestamp",
        "CAST(id AS STRING) AS username", "'9.9.9.9' AS src_addr")
      .write.parquet(torn.toString)
    fs.delete(new org.apache.hadoop.fs.Path(torn, "_SUCCESS"), false)
    assert(wh.authfail(spark).count() === 40, "torn generation must be invisible")

    // the next compaction run reclaims the torn leaf and completes
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 2, keepLatest = 1)
    assert(wh.authfail(spark).count() === 40)

    // after the marker the covered sources (0-2) still exist — readers must
    // use the generation + uncovered batches only (covered leaves are
    // garbage awaiting GC, not truth), even as new batches arrive
    mkBatch(9L)
    val covered = new org.apache.hadoop.fs.Path(day, "batch_id=0")
    assert(fs.exists(covered), "sources survive their own run for in-flight readers")
    assert(wh.authfail(spark).count() === 50,
      "a covered (awaiting-GC) source leaf must not double-count")
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 99, keepLatest = 1) // below threshold: only GC runs
    assert(!fs.exists(covered), "covered leaf is GC'd by the NEXT run")
    assert(wh.authfail(spark).count() === 50)
  }

  test("dead letters append with the reference error-record shape (W5)") {
    val wh = tmpWarehouse()
    val dead = Seq(("2026-08-11T00:00:00Z", "bad line", "ValueError",
      "Could not parse logfile entry")).toDF("time", "line", "error_type", "error")
    Ingest.appendDeadLetters(dead, wh, "apache")
    val rows = wh.deadLetters(spark).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("error_type") === "ValueError")
  }

  test("dead letters are keyed by feed: two feeds at one batch id both " +
      "survive, a redelivery replaces only its own feed") {
    val wh = tmpWarehouse()
    def dead(lines: String*) = lines.map(l => ("2026-08-11T00:00:00Z", l,
      "ValueError", "Could not parse logfile entry"))
      .toDF("time", "line", "error_type", "error")
    def byFeed() = wh.deadLetters(spark).collect()
      .map(r => (r.getAs[String]("feed"),
        r.getAs[Number]("batch_id").longValue, r.getAs[String]("line"))).toSet
    // both feeds number their micro-batches from 0
    Ingest.appendDeadLetters(dead("a1", "a2"), wh, "apache", 0L)
    Ingest.appendDeadLetters(dead("f1"), wh, "authfail", 0L)
    assert(byFeed() === Set(("apache", 0L, "a1"), ("apache", 0L, "a2"),
      ("authfail", 0L, "f1")))
    // a redelivered authfail batch 0 rewrites only authfail's rows
    Ingest.appendDeadLetters(dead("f1-again"), wh, "authfail", 0L)
    assert(byFeed() === Set(("apache", 0L, "a1"), ("apache", 0L, "a2"),
      ("authfail", 0L, "f1-again")))
  }

  test("contacts time travel: exact retained versions, loud eviction error") {
    val wh = tmpWarehouse()
    Ingest.upsertContacts(Seq(("Alice", "alice@a.example"))
      .toDF("realname", "email_address"), wh)
    Ingest.upsertContacts(Seq(("Bob", "bob@b.example"))
      .toDF("realname", "email_address"), wh)
    val versions = wh.contactsVersions(spark)
    assert(versions.length === 2 && versions === versions.sorted)
    // v1 is the pre-Bob world; v2 (current) matches the live read
    assert(wh.contactsAt(spark, versions.head)
      .select("realname").as[String].collect().toSeq === Seq("Alice"))
    assert(wh.contactsAt(spark, versions.last)
      .select("realname").as[String].collect().sorted.toSeq ===
      Seq("Alice", "Bob"))
    assert(wh.contactsAt(spark, versions.last).count() ===
      wh.contacts(spark).count())
    // asking for an unreachable version names the retained window
    val e = intercept[NoSuchElementException](wh.contactsAt(spark, 99L))
    assert(e.getMessage.contains("available"))
  }

  test("compaction with zorderBy re-clusters behind the same marker flip") {
    val wh = tmpWarehouse()
    val base = wh.path("authfail")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 3L).foreach { b =>
      val df = spark.range(b * 10, b * 10 + 10, 1, 2)
        .selectExpr(
          "timestamp_micros(1754784000000000 + id * 1000000) AS timestamp",
          "CAST(id AS STRING) AS username")
        .withColumn("src_addr", lit("1.2.3.4"))
      Ingest.appendEvents(df, wh, "authfail", batchId = b)
    }
    val before = wh.authfail(spark).count()
    graft.ingest.Compaction.compact(spark, wh, "authfail",
      minLeaves = 2, keepLatest = 1,
      zorderBy = Some(("username", "timestamp")))
    // the marker discipline is unchanged: no loss, no double count, the
    // generation leaf is committed and replayable batches survive
    assert(wh.authfail(spark).count() === before)
    val day = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .filter(_.isDirectory).map(_.getPath).head
    val gen = new org.apache.hadoop.fs.Path(day, "batch_id=-1")
    assert(fs.exists(new org.apache.hadoop.fs.Path(gen, "_GRAFT_COMPACTED")))
    // the generation leaf holds the covered rows, Z-ordered (sorted by the
    // normalized Morton key => usernames 0..29 appear in 2-D-clustered
    // order; the layout property itself is proven in the writeZOrdered spec)
    assert(spark.read.parquet(gen.toString).count() === 30)
  }

  test("zorder_key matches a bit-by-bit reference; Column path agrees") {
    val rnd = new scala.util.Random(42)
    def slowMorton(a: Long, b: Long): Long = {
      var out = 0L
      for (i <- 0 until 32) {
        out |= ((a >> i) & 1L) << (2 * i)
        out |= ((b >> i) & 1L) << (2 * i + 1)
      }
      out
    }
    val pairs = Seq.fill(200)((rnd.nextLong() & 0xffffffffL,
      rnd.nextLong() & 0xffffffffL)) ++
      Seq((0L, 0L), (0xffffffffL, 0L), (0L, 0xffffffffL),
        (0xffffffffL, 0xffffffffL))
    pairs.foreach { case (a, b) =>
      assert(graft.functions.ZOrderKey.morton(a, b) === slowMorton(a, b))
    }
    val viaCol = pairs.toDF("a", "b")
      .select(graft.functions.ZOrderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaCol === pairs.map { case (a, b) => slowMorton(a, b) })
  }

  test("z-ordered layout bounds BOTH key columns per file (2-D skipping)") {
    // single-column sort: each of the 8 files spans ~the full l_partkey
    // range (no pruning on the second column). Z-order: every file covers a
    // rectangle — its partkey span collapses. Span ratio is the direct
    // measure of what parquet min/max stats can skip.
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
    val oneDim = Files.createTempDirectory("zorder-1d").toString
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(oneDim)
    val zDir = Files.createTempDirectory("zorder-2d").toString
    Ingest.writeZOrdered(li, zDir, "l_orderkey", "l_partkey")
    def meanPartkeySpan(path: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("l_partkey") - min("l_partkey")).as("span"))
        .collect().map(_.getAs[Long]("span"))
      spans.sum.toDouble / spans.length
    }
    val span1d = meanPartkeySpan(oneDim)
    val spanZ = meanPartkeySpan(zDir)
    assert(spanZ < 0.75 * span1d,
      s"z-order should shrink per-file partkey spans: z=$spanZ vs 1d=$span1d")
    // and the z-ordered rows are the same multiset (layout, not content)
    assert(spark.read.parquet(zDir).count() === li.count())
  }

  test("writeZOrdered refuses unusable z-order columns with the column named") {
    import spark.implicits._
    val out = Files.createTempDirectory("zorder-bad").toString
    // alphabetic column: cast -> long is null for every row
    val alpha = Seq(("alice", 1L), ("bob", 2L)).toDF("username", "ts")
    val e1 = intercept[IllegalArgumentException] {
      Ingest.writeZOrdered(alpha, out, "username", "ts")
    }
    assert(e1.getMessage.contains("username"))
    // partially castable: must refuse rather than cluster only numeric rows
    val mixed = Seq(("123", 1L), ("bob", 2L)).toDF("username", "ts")
    val e2 = intercept[IllegalArgumentException] {
      Ingest.writeZOrdered(mixed, out, "username", "ts")
    }
    assert(e2.getMessage.contains("username"))
    // empty input: clear error, not an NPE from the null bounds row
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val e3 = intercept[IllegalArgumentException] {
      Ingest.writeZOrdered(empty, out, "a", "b")
    }
    assert(e3.getMessage.contains("'a'"))
  }

  test("every pinned warehouse schema equals the schema Spark infers from the " +
      "files the engine wrote, before and after compaction") {
    val wh = tmpWarehouse()
    val apacheLine = "2026-08-11 04:23:17 +0000|www.example.com|443|203.0.113.7|" +
      """512|14034|2751|200|["-", "GET / HTTP/1.1", "GET", "/", "HTTP/1.1", "-", "curl/8.0"]"""
    val authLine = "2026-08-11T04:00:01+00:00 h sshd[1]: Failed password for root " +
      "from 1.2.3.4 port 22 ssh2"
    def mail(from: String) = (s"$from\nTo: Bob <bob@b.example>\nSubject: s\n" +
      "Date: Tue, 11 Aug 2026 04:00:00 +0000\n\nbody").getBytes("UTF-8")
    (0L to 2L).foreach { b =>
      val apache = graft.parse.ApacheParser.parse(
        Seq(apacheLine, "not parseable").toDF("value"))
      Ingest.appendEvents(apache.events, wh, "apache_access", b)
      Ingest.appendDeadLetters(apache.deadLetters, wh, "apache", b)
      val auth = graft.parse.AuthfailParser.parse(
        Seq(authLine, "not parseable").toDF("value"))
      Ingest.appendEvents(auth.events, wh, "authfail", b)
      Ingest.appendDeadLetters(auth.deadLetters, wh, "authfail", b)
      // the second message has no From: it is a mail dead letter
      graft.streaming.LogStream.ingestMailBatch(
        Seq(mail("From: Alice <alice@a.example>"), mail("Sender: s@relay.example"))
          .map((_, new java.sql.Timestamp(1754884800000L)))
          .toDF("content", "modificationTime"), wh, b)
    }
    def check(stage: String): Unit = {
      def fact(table: String) = {
        val root = wh.path(table)
        graft.ingest.Compaction.resolveFactPaths(spark, root) match {
          case Some(paths) => spark.read.option("basePath", root).parquet(paths: _*)
          case None => spark.read.parquet(root)
        }
      }
      Seq(
        "apache_access" -> (wh.apache(spark), fact("apache_access")),
        "authfail" -> (wh.authfail(spark), fact("authfail")),
        "inbox" -> (wh.inbox(spark), fact("inbox")),
        "inbox_contacts" -> (wh.contacts(spark), spark.read.parquet(
          Ingest.snapshotPaths(spark, wh.path("inbox_contacts")).get: _*)),
        "inbox_tocc" -> (wh.tocc(spark), spark.read.parquet(wh.path("inbox_tocc"))),
        "dead_letters" -> (wh.deadLetters(spark),
          spark.read.parquet(wh.path("dead_letters")))
      ).foreach { case (table, (pinned, inferred)) =>
        // StructType equality: names, types, order and nullability
        assert(pinned.schema === inferred.schema, s"$table $stage")
        assert(pinned.count() === inferred.count(), s"$table $stage")
      }
    }
    check("before compaction")
    Seq("apache_access", "authfail", "inbox").foreach(t =>
      graft.ingest.Compaction.compact(spark, wh, t, minLeaves = 2, keepLatest = 1))
    assert(graft.ingest.Compaction.resolveFactPaths(spark, wh.path("inbox")).isDefined)
    check("after compaction")
  }
}
