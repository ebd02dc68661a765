package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets.UTF_8

import graft.ingest.Warehouse
import graft.obs.JobLedger
import graft.streaming.{LearningGate, LogStream, StreamingReports}

/** End-to-end Structured Streaming ingest (reference §2.7: continuous per-line
  * pipes → here file-source streams with Trigger.AvailableNow), through the real
  * `writeStream.foreachBatch` path into the warehouse tables.
  */
class StreamingSpec extends GraftSpec {

  private def tmp(prefix: String): Path = tempDir(prefix)

  test("apache stream: lines -> parsed table + dead letters") {
    val in = tmp("apache-in")
    val wh = Warehouse(tmp("apache-wh").toString)
    val good = "2026-08-11 04:23:17 +0000|www.example.com|443|203.0.113.7|512|14034|2751|200|" +
      """["-", "GET / HTTP/1.1", "GET", "/", "HTTP/1.1", "-", "curl/8.0"]"""
    Files.writeString(in.resolve("access.log"), good + "\nnot parseable\n")
    val q = LogStream.apache(spark, in.toString, wh, tmp("apache-ck").toString)
    q.awaitTermination()
    assert(wh.apache(spark).count() === 1)
    assert(wh.apache(spark).head().getAs[String]("host") === "www.example.com")
    assert(wh.deadLetters(spark).count() === 1)
  }

  test("authfail stream: journal lines -> authfail table") {
    val in = tmp("auth-in")
    val wh = Warehouse(tmp("auth-wh").toString)
    Files.writeString(in.resolve("journal.log"),
      "2026-08-11T04:00:01+00:00 h sshd[1]: Failed password for root from 1.2.3.4 port 22 ssh2\n" +
        "2026-08-11T04:00:02+00:00 h sshd[2]: Invalid user x from 5.6.7.8 port 22\n")
    val q = LogStream.authfail(spark, in.toString, wh, tmp("auth-ck").toString)
    q.awaitTermination()
    val rows = wh.authfail(spark).orderBy("timestamp").collect()
    assert(rows.map(_.getAs[String]("src_addr")).toSeq === Seq("1.2.3.4", "5.6.7.8"))
  }

  test("maillog stream: raw messages -> contacts upsert + inbox + tocc") {
    val in = tmp("mail-in")
    val wh = Warehouse(tmp("mail-wh").toString)
    val msg1 =
      "From: Alice <alice@a.example>\nTo: Bob <bob@b.example>, Carol <carol@c.example>\n" +
        "CC: Bob <bob@b.example>\nSubject: hello\nDate: Tue, 11 Aug 2026 03:59:00 +0000\n\nbody1"
    val msg2 =
      "From: Alice <alice@a.example>\nTo: Bob <bob@b.example>\n" +
        "Subject: again\nDate: Tue, 11 Aug 2026 04:30:00 +0000\n\nbody2"
    // From-less message: the reference raises (maillog.py:150) and does not
    // ingest — must land in dead_letters, not in inbox/contacts
    val msg3 = "Sender: s@relay.example\nTo: Bob <bob@b.example>\n" +
      "Subject: no from\nDate: Tue, 11 Aug 2026 05:00:00 +0000\n\nbody3"
    Files.write(in.resolve("m1.eml"), msg1.getBytes(UTF_8))
    Files.write(in.resolve("m2.eml"), msg2.getBytes(UTF_8))
    Files.write(in.resolve("m3.eml"), msg3.getBytes(UTF_8))
    val q = LogStream.maillog(spark, in.toString, wh, tmp("mail-ck").toString)
    q.awaitTermination()

    val dead = wh.deadLetters(spark).collect()
    assert(dead.length === 1)
    assert(dead(0).getAs[String]("error_type") === "AttributeError")
    assert(dead(0).getAs[String]("error") === "Error processing e-mail")

    // contacts deduplicated across messages (maillog.py:66-78): Alice, Bob, Carol
    val contacts = wh.contacts(spark).orderBy("id").collect()
    assert(contacts.map(_.getAs[String]("realname")).toSeq.sorted ===
      Seq("Alice", "Bob", "Carol"))

    val inbox = wh.inbox(spark).orderBy("date").collect()
    assert(inbox.length === 2)
    assert(inbox(0).getAs[String]("subject") === "hello")
    assert(inbox(0).getAs[Long]("size") === msg1.getBytes(UTF_8).length.toLong)

    // per-message recipient dedup (maillog.py:88-94): msg1 has Bob+Carol (Bob
    // deduped across To/CC), msg2 has Bob
    val tocc = wh.tocc(spark).collect()
    assert(tocc.length === 3)
    val byMsg = tocc.groupBy(_.getAs[Long]("msg_id")).view.mapValues(_.length).toMap
    assert(byMsg.values.toSeq.sorted === Seq(1, 2))
  }

  test("replayed mail micro-batch is a no-op: same ids and counts (idempotent)") {
    import spark.implicits._
    val wh = Warehouse(tmp("replay-wh").toString)
    val msg =
      "From: Alice <alice@a.example>\nTo: Bob <bob@b.example>\n" +
        "Subject: replay\nDate: Tue, 11 Aug 2026 04:00:00 +0000\n\nbody"
    val batch = Seq((msg.getBytes(UTF_8), new java.sql.Timestamp(1754880000000L)))
      .toDF("content", "modificationTime")
    LogStream.ingestMailBatch(batch, wh, batchId = 7L)
    val ids1 = wh.inbox(spark).select("id").as[Long].collect().sorted.toSeq
    val tocc1 = wh.tocc(spark).count()
    val contacts1 = wh.contacts(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    LogStream.ingestMailBatch(batch, wh, batchId = 7L) // redelivery
    assert(wh.inbox(spark).select("id").as[Long].collect().sorted.toSeq === ids1)
    assert(wh.tocc(spark).count() === tocc1)
    assert(wh.contacts(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === contacts1)
  }

  private def mailFrom(sender: String, subject: String): Array[Byte] =
    (s"From: $sender <${sender.toLowerCase}@a.example>\n" +
      s"To: Bob <bob@b.example>\nSubject: $subject\n" +
      "Date: Tue, 11 Aug 2026 04:00:00 +0000\n\nbody").getBytes(UTF_8)

  test("ingest job budget: a steady-state mail micro-batch runs at most 6 " +
      "jobs and commits no contacts version, one with a dead letter at most " +
      "7, clean apache and authfail micro-batches at most 2 and no " +
      "dead-letter write; every job names its ingest step") {
    val wh = Warehouse(tmp("budget-wh").toString)
    val mailIn = tmp("budget-mail-in")
    val mailCk = tmp("budget-mail-ck").toString
    def mailBatch(): Seq[String] = JobLedger.record(spark)(
      LogStream.maillog(spark, mailIn.toString, wh, mailCk).awaitTermination()
    )._2.map(_.description)
    Files.write(mailIn.resolve("m1.eml"), mailFrom("Alice", "first"))
    mailBatch() // batch 0 learns both addresses
    val versions = wh.contactsVersions(spark)
    // batch 1: every address known, no malformed message
    Files.write(mailIn.resolve("m2.eml"), mailFrom("Alice", "second"))
    val mailJobs = mailBatch()
    assert(mailJobs.size <= 6, mailJobs.mkString("\n"))
    assert(wh.contactsVersions(spark) === versions)
    assert(wh.inbox(spark).count() === 2)
    // batch 2: one more message, and one without a From header
    Files.write(mailIn.resolve("m3.eml"), mailFrom("Alice", "third"))
    Files.write(mailIn.resolve("m4.eml"), ("To: Bob <bob@b.example>\n" +
      "Subject: no from\nDate: Tue, 11 Aug 2026 04:00:00 +0000\n\nbody")
      .getBytes(UTF_8))
    val deadJobs = mailBatch()
    assert(deadJobs.size <= 7, deadJobs.mkString("\n"))
    assert(deadJobs.count(_.startsWith("graft:ingest/mail/dead_letters/batch=2")) === 1,
      deadJobs.mkString("\n"))
    assert(wh.inbox(spark).count() === 3)
    assert(wh.deadLetters(spark).count() === 1)

    val line = "2026-08-11 04:23:17 +0000|www.example.com|443|203.0.113.7|512|" +
      """14034|2751|200|["-", "GET / HTTP/1.1", "GET", "/", "HTTP/1.1", "-", "curl/8.0"]"""
    val auth = "2026-08-11T04:00:01+00:00 h sshd[1]: Failed password for root " +
      "from 1.2.3.4 port 22 ssh2"
    def textBatch(feed: String, lines: String)(
        stream: (String, String) => org.apache.spark.sql.streaming.StreamingQuery) = {
      val in = tmp(s"budget-$feed-in")
      Files.writeString(in.resolve(s"$feed.log"), lines)
      val jobs = JobLedger.record(spark)(stream(in.toString,
        tmp(s"budget-$feed-ck").toString).awaitTermination())._2.map(_.description)
      assert(jobs.size <= 2, jobs.mkString("\n"))
      assert(!Files.exists(java.nio.file.Paths.get(wh.path(s"dead_letters/feed=$feed"))))
      jobs
    }
    val apacheJobs = textBatch("apache", s"$line\n$line\n")(
      LogStream.apache(spark, _, wh, _))
    assert(wh.apache(spark).count() === 2)
    val authJobs = textBatch("authfail", s"$auth\n$auth\n")(
      LogStream.authfail(spark, _, wh, _))
    assert(wh.authfail(spark).count() === 2)

    info(s"jobs: mail ${mailJobs.size}, mail with a dead letter ${deadJobs.size}, " +
      s"apache ${apacheJobs.size}, authfail ${authJobs.size}")
    (mailJobs ++ deadJobs ++ apacheJobs ++ authJobs).foreach(d =>
      assert(d.startsWith("graft:ingest/"), s"untagged ingest job: $d"))
    assert(mailJobs.exists(_.startsWith("graft:ingest/mail/contacts/batch=1")))
  }

  test("mail ids follow Spark's order of (mtime, sender_email), as " +
      "OrderedIndex assigns them, and messages tied on both keep their ids " +
      "and tocc rows on redelivery") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val wh = Warehouse(tmp("order-wh").toString)
    def mail(sender: String, email: String, subject: String, to: String) =
      (s"From: $sender <$email>\nTo: $to\nSubject: $subject\n" +
        "Date: Tue, 11 Aug 2026 04:00:00 +0000\n\nbody").getBytes(UTF_8)
    def at(ms: Long) = new java.sql.Timestamp(ms)
    // unique (mtime, sender_email) keys; at t=2000 the fullwidth "Ａ" sorts
    // before the emoji in UTF-8 bytes but after it in UTF-16 code units
    val unique = Seq(
      (mail("Zed", "zed@a.example", "z1", "Bob <bob@b.example>"), at(1000L)),
      (mail("Emoji", "\uD83D\uDE00@a.example", "emoji", "Bob <bob@b.example>"), at(2000L)),
      (mail("Wide", "\uFF21@a.example", "wide", "Bob <bob@b.example>"), at(2000L)),
      (mail("Amy", "amy@a.example", "amy", "Carol <carol@c.example>"), at(2000L)),
      (mail("Amy", "amy@a.example", "amy late", "Bob <bob@b.example>"), at(3000L)),
      (mail("Bea", "bea@a.example", "bea", "Bob <bob@b.example>"), at(500L))
    ).toDF("content", "modificationTime")
    LogStream.ingestMailBatch(unique, wh, batchId = 0L)
    def idsBySubject(batch: Long) = wh.inbox(spark).filter(col("batch_id") === batch)
      .select("subject", "id").as[(String, Long)].collect().toMap
    val reference = graft.ops.OrderedIndex.withOrderedId(
        graft.parse.MailParser.parse(unique).events,
        Seq(col("modificationTime"), col("sender_email")), "id")
      .select("subject", "id").as[(String, Long)].collect().toMap
    assert(idsBySubject(0L) === reference)
    assert(reference("wide") < reference("emoji"))

    // every mail of a perfbench tick shares one mtime: ties on both keys
    val tied = Seq(
      (mail("Amy", "amy@a.example", "tie one", "Bob <bob@b.example>"), at(4000L)),
      (mail("Amy", "amy@a.example", "tie two", "Carol <carol@c.example>, " +
        "Bob <bob@b.example>"), at(4000L)))
    def toccBySubject = wh.tocc(spark).filter(col("batch_id") === 1L)
      .join(wh.inbox(spark).filter(col("batch_id") === 1L),
        col("msg_id") === col("id"))
      .select("subject", "contact_id").as[(String, Long)].collect().toSet
    LogStream.ingestMailBatch(tied.toDF("content", "modificationTime"), wh, 1L)
    val ids = idsBySubject(1L)
    val tocc = toccBySubject
    assert(ids.values.toSeq.sorted === Seq(7L, 8L))
    assert(tocc.size === 3)
    // the redelivered batch lists its files in the other order
    LogStream.ingestMailBatch(tied.reverse.toDF("content", "modificationTime"), wh, 1L)
    assert(idsBySubject(1L) === ids)
    assert(toccBySubject === tocc)
  }

  test("a mail batch whose inbox append throws leaves nothing cached") {
    import spark.implicits._
    val wh = Warehouse(tmp("leak-wh").toString)
    def batch(subject: String) =
      Seq((mailFrom("Alice", subject), new java.sql.Timestamp(1754880000000L)))
        .toDF("content", "modificationTime")
    LogStream.ingestMailBatch(batch("lands"), wh, batchId = 0L)
    // a regular file where the committer stages its output: the inbox
    // append fails
    Files.createFile(java.nio.file.Paths.get(wh.path("inbox"), "_temporary"))
    spark.catalog.clearCache()
    intercept[Exception](LogStream.ingestMailBatch(batch("fails"), wh, batchId = 1L))
    assert(wh.tocc(spark).count() === 1, "the failure must come before the tocc write")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("windowed streaming report: watermarked tumbling aggregation (§2.7 ext)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("win-in")
    Files.writeString(in.resolve("access.log"),
      Seq(
        "2026-08-10 04:00:00 +0000|h|80|1.1.1.1|10|100|5|200|" +
          """["-", "GET /a HTTP/1.1", "GET", "/a", "HTTP/1.1", "-", "ua"]""",
        "2026-08-11 05:00:00 +0000|h|80|1.1.1.1|20|200|5|200|" +
          """["-", "GET /a HTTP/1.1", "GET", "/a", "HTTP/1.1", "-", "ua"]""",
        "2026-08-11 06:00:00 +0000|h|80|1.1.1.1|30|300|5|200|" +
          """["-", "GET /b HTTP/1.1", "GET", "/b", "HTTP/1.1", "-", "ua"]"""
      ).mkString("", "\n", "\n"))
    val lines = spark.readStream.text(in.toString)
    val parsed = graft.parse.ApacheParser.parse(lines).events
    val out = tmp("win-out")
    val q = StreamingReports.windowedHits(parsed, "24 hours", "1 hour")
      .writeStream
      .option("checkpointLocation", tmp("win-ck").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out.toString)
      .start()
    q.awaitTermination()
    // AvailableNow + append emits only windows closed by the final watermark:
    // the 2026-08-10 window closes once the 08-11 events advance the watermark.
    val rows = spark.read.parquet(out.toString)
      .select(date_format($"window_start", "yyyy-MM-dd").as("d"), $"reqline", $"qty")
      .as[(String, String, Long)].collect()
    assert(rows.toSet === Set(("2026-08-10", "GET /a HTTP/1.1", 1L)))
  }

  test("streaming exact dedup keeps first doc per content hash with bounded state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("dedup-in")
    val t0 = 3600000000L // 1 h in µs (off the epoch-0 initial watermark)
    // batch 1: a duplicate pair; batch 2: fresh text + a later duplicate of
    // batch 1's text, still within the horizon → dropped via carried state
    Files.writeString(in.resolve("b1.csv"),
      s"1,hello world,$t0\n2,hello world,${t0 + 60000000L}\n")
    Files.writeString(in.resolve("b2.csv"),
      s"3,fresh text,${t0 + 120000000L}\n4,hello world,${t0 + 180000000L}\n")
    Files.setLastModifiedTime(in.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .csv(in.toString)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val q = graft.ops.Dedup.streamingExactDedup(stream, "10 minutes")
      .select("doc_id", "text")
      .writeStream
      .option("checkpointLocation", tmp("dedup-ck").toString)
      .outputMode("append")
      .format("memory")
      .queryName("stream_dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("stream_dedup_out")
      .as[(Long, String)].collect().toSeq
    assert(rows.map(_._2).sorted === Seq("fresh text", "hello world"),
      "exactly one survivor per content hash")
    assert(rows.contains((3L, "fresh text")))
    assert(!rows.map(_._1).contains(4L),
      "a duplicate in a later micro-batch must be dropped via carried state")
  }

  test("sweepTail closes the long tail the streaming dedup's horizon leaves open") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("sweep-in")
    val t0 = 3600000000L // 1 h in µs (off the epoch-0 initial watermark)
    // the duplicate pair straddles the 10-minute horizon (6 h apart): the
    // streaming pass rightly emits BOTH (its per-hash state expired once the
    // middle batch advanced the watermark past t0 + horizon — the watermark
    // only moves between micro-batches), and the composed batch sweep must
    // end with exactly one survivor
    Files.writeString(in.resolve("b1.csv"), s"1,tail text,$t0\n")
    Files.writeString(in.resolve("b2.csv"), s"3,other text,${t0 + 10800000000L}\n")
    Files.writeString(in.resolve("b3.csv"), s"4,third text,${t0 + 10860000000L}\n")
    Files.writeString(in.resolve("b4.csv"), s"2,tail text,${t0 + 21600000000L}\n")
    Seq("b1.csv" -> 180000L, "b2.csv" -> 120000L, "b3.csv" -> 60000L).foreach {
      case (f, ago) => Files.setLastModifiedTime(in.resolve(f),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ago))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .csv(in.toString)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val q = graft.ops.Dedup.streamingExactDedup(stream, "10 minutes")
      .writeStream
      .option("checkpointLocation", tmp("sweep-ck").toString)
      .outputMode("append")
      .format("memory")
      .queryName("sweep_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sweep_out")
    assert(streamed.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L),
      "both far-apart duplicates survive the streaming horizon by design")
    val swept = graft.ops.Dedup.sweepTail(streamed)
    assert(swept.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 4L),
      "the batch sweep keeps the min-doc_id survivor per content hash")
    assert(swept.columns === streamed.columns, "sweep preserves the table schema")
  }

  test("streaming simhash near-dup: pairs within horizon, none across it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("sndup-in")
    val t0 = 3600000000L
    val horizonUs = 600000000L // 10 minutes
    // docs 1/2: identical text 1 min apart, in SEPARATE micro-batches (the
    // pair must come from carried state); doc 5: identical text 6 h later —
    // outside the horizon, must NOT pair with 1/2 even though the bucket
    // collides (the stale entries are also evicted by then)
    Files.writeString(in.resolve("b1.csv"), s"1,alpha beta gamma,$t0\n")
    Files.writeString(in.resolve("b2.csv"),
      s"2,alpha beta gamma,${t0 + 60000000L}\n")
    Files.writeString(in.resolve("b3.csv"),
      s"3,completely different words,${t0 + 10800000000L}\n")
    Files.writeString(in.resolve("b4.csv"),
      s"5,alpha beta gamma,${t0 + 21600000000L}\n")
    Seq("b1.csv" -> 180000L, "b2.csv" -> 120000L, "b3.csv" -> 60000L).foreach {
      case (f, ago) => Files.setLastModifiedTime(in.resolve(f),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ago))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .csv(in.toString)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val q = graft.ops.Dedup.streamingSimhashNearDup(stream, horizonUs)
      .writeStream
      .option("checkpointLocation", tmp("sndup-ck").toString)
      .outputMode("append")
      .format("memory")
      .queryName("sndup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sndup_out")
    val pairs = streamed.select("doc1", "doc2").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)),
      "exactly the within-horizon pair, possibly once per colliding band")
    assert(streamed.filter($"hamming" =!= 0L).count() === 0)
    // batch mode applies the same within-horizon pairing (cross-check)
    val batchDf = Seq(
      (1L, "alpha beta gamma", t0),
      (2L, "alpha beta gamma", t0 + 60000000L),
      (3L, "completely different words", t0 + 10800000000L),
      (5L, "alpha beta gamma", t0 + 21600000000L))
      .toDF("doc_id", "text", "ts_us")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val batchPairs = graft.ops.Dedup.streamingSimhashNearDup(batchDf, horizonUs)
      .select("doc1", "doc2").distinct().as[(Long, Long)].collect().toSet
    assert(batchPairs === pairs)
  }

  test("streaming minhash near-dup: estimated Jaccard within horizon, none across it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("mhdup-in")
    val t0 = 3600000000L
    val horizonUs = 600000000L // 10 minutes
    // docs 1/2: identical text 1 min apart in separate micro-batches (pair
    // must come from carried state; identical shingles ⇒ all k minima match);
    // doc 3: unrelated text (no shared band signature ⇒ no pair); doc 5:
    // identical to 1/2 but 6 h later — same buckets, outside the horizon
    Files.writeString(in.resolve("b1.csv"), s"1,alpha beta gamma delta,$t0\n")
    Files.writeString(in.resolve("b2.csv"),
      s"2,alpha beta gamma delta,${t0 + 60000000L}\n")
    Files.writeString(in.resolve("b3.csv"),
      s"3,completely different words entirely,${t0 + 10800000000L}\n")
    Files.writeString(in.resolve("b4.csv"),
      s"5,alpha beta gamma delta,${t0 + 21600000000L}\n")
    Seq("b1.csv" -> 180000L, "b2.csv" -> 120000L, "b3.csv" -> 60000L).foreach {
      case (f, ago) => Files.setLastModifiedTime(in.resolve(f),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ago))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .csv(in.toString)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val q = graft.ops.Dedup.streamingMinhashNearDup(stream, horizonUs)
      .writeStream
      .option("checkpointLocation", tmp("mhdup-ck").toString)
      .outputMode("append")
      .format("memory")
      .queryName("mhdup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("mhdup_out")
    val pairs = streamed.select("doc1", "doc2").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)),
      "exactly the within-horizon pair, possibly once per colliding band")
    assert(streamed.filter($"matched" =!= $"k").count() === 0,
      "identical docs match on every minima position (estimated Jaccard 1.0)")
    // batch mode applies the same within-horizon pairing (cross-check), and
    // the band signatures derived from the minima vector agree with the
    // native MinHashBandSigs construction used by the batch LSH path
    val batchDf = Seq(
      (1L, "alpha beta gamma delta", t0),
      (2L, "alpha beta gamma delta", t0 + 60000000L),
      (3L, "completely different words entirely", t0 + 10800000000L),
      (5L, "alpha beta gamma delta", t0 + 21600000000L))
      .toDF("doc_id", "text", "ts_us")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val batchPairs = graft.ops.Dedup.streamingMinhashNearDup(batchDf, horizonUs)
      .select("doc1", "doc2").distinct().as[(Long, Long)].collect().toSet
    assert(batchPairs === pairs)
    val derivedSigs = batchDf
      .withColumn("words", graft.ops.Dedup.words(col("text")))
      .withColumn("grams", expr(
        """array_distinct(filter(transform(sequence(1, size(words)), i ->
             CASE WHEN i + 2 <= size(words)
                  THEN concat_ws(' ', element_at(words, i), element_at(words, i + 1), element_at(words, i + 2))
             END), x -> x IS NOT NULL))"""))
      .select(col("doc_id"),
        graft.functions.MinHashBandSigs(col("grams"), 8, 4).as("native"),
        expr("""transform(sequence(0, 1), b ->
                  md5(array_join(slice(transform(sequence(1, 8), h ->
                    array_min(transform(grams, g -> md5(concat(cast(h as string), ':', g))))),
                  b * 4 + 1, 4), '|')))""").as("sqlform"))
      .as[(Long, Seq[String], Seq[String])].collect()
    derivedSigs.foreach { case (id, native, sqlform) =>
      assert(native === sqlform, s"doc $id: derived band sigs must match the native construction")
    }
  }

  test("streaming attempts-by-IP window cross-checks the batch Q2 report") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def line(ts: String, ip: String): String =
      s"$ts myhost sshd[1]: Failed password for root from $ip port 22 ssh2"
    // 12 in-window failures over 3 IPs on 2026-08-10, plus a later sentinel
    // whose watermark closes the window
    val inWindow = (0 until 12).map { i =>
      line(f"2026-08-10T0${i % 6}%d:00:00+00:00", s"198.51.100.${i % 3}")
    }
    val sentinel = line("2026-08-12T05:00:00+00:00", "203.0.113.9")
    val in = tmp("att-in")
    Files.writeString(in.resolve("auth.log"),
      (inWindow :+ sentinel).mkString("", "\n", "\n"))
    val out = tmp("att-out")
    val q = StreamingReports.windowedAttempts(
        graft.parse.AuthfailParser.parse(spark.readStream.text(in.toString)).events,
        "24 hours", "1 hour")
      .writeStream
      .option("checkpointLocation", tmp("att-ck").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out.toString)
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out.toString)
      .filter(date_format($"window_start", "yyyy-MM-dd") === "2026-08-10")
      .select($"src_addr", $"qty").as[(String, Long)].collect().toSet
    val batch = graft.reports.Reports.authfailAttemptsByIp(
        graft.parse.AuthfailParser.parse(inWindow.toDF("value")).events,
        lit("2026-08-11 00:00:00").cast("timestamp"))
      .select($"src_addr", $"qty").as[(String, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch === Set(("198.51.100.0", 4L), ("198.51.100.1", 4L),
      ("198.51.100.2", 4L)))
  }

  test("streaming daily window cross-checks the batch report on the same data") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 40 events inside the tumbling window [2026-08-10, 2026-08-11), five
    // reqlines, distinct byte counts — plus one sentinel two days later whose
    // watermark closes the window so append mode emits it
    def line(ts: String, path: String, bytesin: Int, bytesout: Int): String =
      s"$ts +0000|www.example.com|443|203.0.113.7|$bytesin|$bytesout|100|200|" +
        s"""["-", "GET $path HTTP/1.1", "GET", "$path", "HTTP/1.1", "-", "ua"]"""
    val base = java.time.LocalDateTime.of(2026, 8, 10, 0, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val inWindow = (0 until 40).map { i =>
      line(base.plusMinutes(17L * i).format(fmt), s"/p${i % 5}", 100 + i, 1000 + 3 * i)
    }
    val sentinel = line("2026-08-12 05:00:00", "/sentinel", 1, 1)
    val in = tmp("xcheck-in")
    Files.writeString(in.resolve("access.log"),
      (inWindow :+ sentinel).mkString("", "\n", "\n"))

    // streaming: parse -> watermarked 24 h tumbling aggregation -> parquet
    val out = tmp("xcheck-out")
    val q = StreamingReports.windowedHits(
        graft.parse.ApacheParser.parse(spark.readStream.text(in.toString)).events,
        "24 hours", "1 hour")
      .writeStream
      .option("checkpointLocation", tmp("xcheck-ck").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out.toString)
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out.toString)
      .filter(date_format($"window_start", "yyyy-MM-dd") === "2026-08-10")
      .select($"reqline", $"qty", $"sum_bytesin", $"sum_bytesout")
      .as[(String, Long, Long, Long)].collect().toSet

    // batch: the REAL report (Reports.apacheHitsByRequest) evaluated at
    // now = window end over the data visible at that instant
    val parsedBatch = graft.parse.ApacheParser.parse(
      inWindow.toDF("value")).events
    val batch = graft.reports.Reports.apacheHitsByRequest(
        parsedBatch, lit("2026-08-11 00:00:00").cast("timestamp"))
      .select($"reqline", $"qty", $"sum_bytesin", $"sum_bytesout")
      .as[(String, Long, Long, Long)].collect().toSet

    assert(streamed === batch)
    assert(batch.size === 5) // all five reqlines present, real aggregation
    assert(batch.toSeq.map(_._2).sum === 40L)
  }

  test("media asset stream: binary payloads -> decoded feature table") {
    import org.apache.spark.sql.functions._
    val in = tmp("media-in")
    val outDir = tmp("media-out").toString
    // real fixture payloads from the oracle-checked builders: one
    // animated GIF, one WAV, one unknown blob
    val gifBytes = graft.fixtures.Image.gifAnim(3L)
    val wavBytes = graft.fixtures.Audio.wav(4L)
    val jpegBytes = graft.fixtures.Image.jpeg(6L)
    // asset 5 of the e07 corpus is a FLAC encoding (5 % 3 = 2)
    val flacBytes = graft.fixtures.Audio.audioCorpus(5L)
    Files.write(in.resolve("a.gif"), gifBytes)
    Files.write(in.resolve("b.wav"), wavBytes)
    Files.write(in.resolve("c.bin"), "no media here".getBytes(UTF_8))
    Files.write(in.resolve("d.jpg"), jpegBytes)
    Files.write(in.resolve("e.flac"), flacBytes)
    val q = LogStream.mediaAssets(spark, in.toString, outDir,
      tmp("media-ck").toString)
    q.awaitTermination()

    val out = spark.read.parquet(outDir).orderBy("path").collect()
    assert(out.length === 5)
    val byExt = out.map(r => r.getAs[String]("path").split('.').last -> r).toMap
    // the GIF row carries the SAME stats the batch expression computes
    val g = graft.functions.GifAnimFeatures.decode(gifBytes)
    assert(byExt("gif").getAs[String]("format") === "gif")
    assert((byExt("gif").getAs[Long]("n_frames"),
      byExt("gif").getAs[Long]("sum_r")) === ((g.getLong(3), g.getLong(5))))
    val w = graft.functions.WavFeatures.decode(wavBytes)
    assert(byExt("wav").getAs[String]("format") === "wav")
    assert((byExt("wav").getAs[Long]("channels"),
      byExt("wav").getAs[Long]("audio_frames"),
      byExt("wav").getAs[Long]("sum_ch0"),
      byExt("wav").getAs[Long]("peak_abs")) ===
      ((w.getLong(1), w.getLong(4), w.getLong(5), w.getLong(7))))
    assert(byExt("wav").isNullAt(byExt("wav").fieldIndex("n_frames")))
    assert(byExt("bin").getAs[String]("format") === "unknown")
    assert(byExt("bin").isNullAt(byExt("bin").fieldIndex("sum_r")))
    // the JPEG row carries the SAME stats the batch expression computes —
    // the full baseline decode runs inside the micro-batch scan stage
    val j = graft.functions.JpegFeatures.decode(jpegBytes)
    assert(byExt("jpg").getAs[String]("format") === "jpeg")
    assert((byExt("jpg").getAs[Long]("width"),
      byExt("jpg").getAs[Long]("height"),
      byExt("jpg").getAs[Long]("sum_r")) ===
      ((j.getLong(1), j.getLong(2), j.getLong(5))))
    // the FLAC row decodes through the same scan stage into the unified
    // audio columns (n_samples lands in audio_frames, sums/peak shared)
    val fl = graft.functions.FlacFeatures.decode(flacBytes)
    assert(byExt("flac").getAs[String]("format") === "flac")
    assert((byExt("flac").getAs[Long]("channels"),
      byExt("flac").getAs[Long]("audio_frames"),
      byExt("flac").getAs[Long]("sum_ch0"),
      byExt("flac").getAs[Long]("peak_abs")) ===
      ((fl.getLong(2), fl.getLong(5), fl.getLong(6), fl.getLong(8))))
  }

  test("media asset stream carries the MP4 inventory: stream rows equal " +
      "the m24 batch decoration on a mixed flat/fragmented fixture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("media-mp4-in")
    val outDir = tmp("media-mp4-out").toString
    // one decodable per class, one mp4-refused (20 % 17 = 3 hits the flat
    // walker's refusal branch), one non-MP4 junk (48 % 37 = 11, no ftyp)
    val flat = graft.fixtures.Video.mp4Samples(2L)
    val frag = graft.fixtures.Video.mp4Fragments(1L)
    val refused = graft.fixtures.Video.mp4Samples(20L)
    val junk = graft.fixtures.Video.mp4Samples(48L)
    Files.write(in.resolve("flat.mp4"), flat)
    Files.write(in.resolve("frag.mp4"), frag)
    Files.write(in.resolve("refused.mp4"), refused)
    Files.write(in.resolve("junk.bin"), junk)
    val q = LogStream.mediaAssets(spark, in.toString, outDir,
      tmp("media-mp4-ck").toString)
    q.awaitTermination()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[String]("path").split('/').last -> r).toMap
    // batch side: the SAME projection (mediaDecorations) over the same
    // payloads — the m24 oracle row is therefore the stream's semantics
    val batch = LogStream.mediaDecorations(
      Seq(("flat.mp4", flat), ("frag.mp4", frag), ("refused.mp4", refused),
        ("junk.bin", junk)).toDF("name", "content"), Seq("name"))
      .collect().map(r => r.getAs[String]("name") -> r).toMap
    for (n <- Seq("flat.mp4", "frag.mp4", "refused.mp4", "junk.bin");
         c <- Seq("format", "stream_class", "mp4_tracks", "mp4_samples",
           "mp4_duration_ms", "mp4_bytes")) {
      assert(out(n).getAs[Any](c) === batch(n).getAs[Any](c), s"$n.$c")
    }
    assert(batch("flat.mp4").getAs[String]("stream_class") === "flat")
    assert(batch("flat.mp4").getAs[String]("format") === "mp4")
    assert(batch("frag.mp4").getAs[String]("stream_class") === "fragmented")
    assert(batch("frag.mp4").getAs[Long]("mp4_samples") > 0L)
    assert(batch("frag.mp4").getAs[Long]("mp4_bytes") > 0L)
    // honest refusal through the stream: mp4 format, NULL inventory
    val rf = batch("refused.mp4")
    assert(rf.getAs[String]("format") === "mp4")
    assert(rf.isNullAt(rf.fieldIndex("stream_class")))
    assert(rf.isNullAt(rf.fieldIndex("mp4_tracks")))
    assert(batch("junk.bin").getAs[String]("format") === "unknown")
  }

  test("streaming span check: corpus-known substring spans per arrival") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("spancheck-in")
    val idx = tmp("spancheck-idx").resolve("index").toString
    val out = tmp("spancheck-out").toString
    val shared = (1 to 6).map(i => s"c$i").mkString(" ") // 6 corpus words
    val corpus = Seq((100L, s"pre $shared post tail"), (101L, "other words here"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.buildGramIndex(corpus, n = 3).write.parquet(idx)
    // arrival 1 embeds the corpus substring mid-doc; arrival 2 is novel
    Files.writeString(in.resolve("b1.json"), Seq(
      s"""{"doc_id":1,"text":"a1 b1 $shared y1 z1"}""",
      """{"doc_id":2,"text":"totally novel content stream"}"""
    ).mkString("", "\n", "\n"))
    val arrivals = spark.readStream
      .schema("doc_id LONG, text STRING").json(in.toString)
    val q = LogStream.spanCheckArrivals(arrivals, idx, out,
      tmp("spancheck-ck").toString, n = 3)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    val rows = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // "c1..c6" sits at words 3..8 of arrival 1 — grams at positions 3..6
    assert(rows === Seq((1L, 3L, 8L, 6L)))
    // batch parity on the same arrivals
    val batchIn = Seq((1L, s"a1 b1 $shared y1 z1"),
      (2L, "totally novel content stream")).toDF("doc_id", "text")
    val bv = graft.ops.Dedup.spanCheckAgainstIndex(
      batchIn, spark.read.parquet(idx), n = 3)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(bv === rows)
  }

  test("self-learning substring check: a later arrival quoting an earlier " +
      "arrival is flagged, grams learned once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("glearn-in")
    val root = tmp("glearn-idx").resolve("index").toString
    val out = tmp("glearn-out").toString
    val corpus = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.buildGramIndex(corpus, n = 3).write
      .parquet(s"$root/base")
    val phrase = "m1 m2 m3 m4 m5 m6" // novel 6-word phrase
    // batch 1 introduces the phrase; batch 2 quotes it mid-document
    Files.writeString(in.resolve("b1.json"),
      s"""{"doc_id":1,"text":"$phrase"}""" + "\n")
    Files.writeString(in.resolve("b2.json"),
      s"""{"doc_id":2,"text":"x1 x2 $phrase y1 y2"}""" + "\n")
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val q = LogStream.spanCheckLearningArrivals(arrivals, root, out,
      tmp("glearn-ck").toString, n = 3)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val rows = read()
    // doc 1: no spans (phrase unknown to base); doc 2: the quoted phrase
    // at 1-based word positions 3..8 — learned from batch 1
    assert(rows === Seq((2L, 3L, 8L, 6L)),
      s"quoted phrase must span words 3..8 of doc 2, got $rows")
    // static-index contrast: against base alone the quote is invisible
    assert(graft.ops.Dedup.spanCheckAgainstIndex(
      Seq((2L, s"x1 x2 $phrase y1 y2")).toDF("doc_id", "text"),
      spark.read.parquet(s"$root/base"), n = 3).count() === 0)
    // grams learn ONCE: batch 2 re-contains the phrase's grams but they
    // are already knowledge, so only its genuinely new grams land
    val learned = spark.read.parquet(s"$root/learned")
    assert(learned.filter(col("batch_id") === 0).count() === 4) // m-grams
    val b2grams = learned.filter(col("batch_id") === 1)
      .select("gram").as[String].collect().toSet
    assert(!b2grams.exists(_.startsWith("m1 m2")),
      s"phrase grams must not be re-learned, got $b2grams")
    // replay-exact
    LogStream.spanCheckLearningArrivals(arrivals, root, out,
      tmp("glearn-ck2").toString, n = 3).awaitTermination()
    assert(read() === rows)
  }

  test("learned-delta compaction: consolidated generation serves the same " +
      "knowledge, replay contract survives the flip, grace-cycle GC") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("lcomp-in")
    val root = tmp("lcomp-idx").resolve("index").toString
    val out = tmp("lcomp-out").toString
    graft.ops.Dedup.buildGramIndex(
        Seq((100L, "alpha beta gamma delta epsilon zeta"))
          .toDF("doc_id", "text"), n = 3)
      .write.parquet(s"$root/base")
    val phrase = "m1 m2 m3 m4 m5 m6"
    Files.writeString(in.resolve("b1.json"),
      s"""{"doc_id":1,"text":"$phrase"}""" + "\n")
    Files.writeString(in.resolve("b2.json"),
      s"""{"doc_id":2,"text":"x1 x2 $phrase y1 y2"}""" + "\n")
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    LogStream.spanCheckLearningArrivals(arrivals, root, out,
      tmp("lcomp-ck").toString, n = 3).awaitTermination()
    def gramView(beforeBatch: Long = Long.MaxValue) =
      graft.ops.Dedup.readWithLearned(spark, root, beforeBatch)
        .orderBy("gram").collect().toSeq
    val full = gramView()
    val below1 = gramView(beforeBatch = 1)
    assert(full.size > below1.size, "fixture must learn in both batches")
    // compact: two batch partitions fold into one marked generation
    assert(graft.ops.Dedup.compactLearnedDelta(spark, root) === 1L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/learned_g1")))
    // the combined view AND the replay-bounded view are bit-identical
    // across the flip — batch_id survives as a column in the generation
    assert(gramView() === full)
    assert(gramView(beforeBatch = 1) === below1)
    assert(gramView(beforeBatch = 0) ===
      spark.read.parquet(s"$root/base").orderBy("gram").collect().toSeq)
    // a full stream REPLAY (fresh checkpoint) after compaction reproduces
    // the original spans: each replayed batch still reads knowledge
    // strictly below itself through the generation, and its re-written
    // live partitions (≤ horizon) stay invisible to readers
    def spans() = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val spansBefore = spans()
    LogStream.spanCheckLearningArrivals(arrivals, root, out,
      tmp("lcomp-ck2").toString, n = 3).awaitTermination()
    assert(spans() === spansBefore)
    assert(gramView() === full, "replayed live partitions must not " +
      "double-count against the generation")
    // second compaction: no new knowledge → content stable; the absorbed
    // partitions (re-written by the replay, ≤ horizon) GC after the grace
    // cycle; generation 1 superseded next run
    assert(graft.ops.Dedup.compactLearnedDelta(spark, root) === 2L)
    assert(gramView() === full)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/learned/batch_id=0")))
    assert(graft.ops.Dedup.compactLearnedDelta(spark, root) === 3L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/learned_g1")))
    assert(gramView() === full)
    // claim-lock: a held lock no-ops the loser at the current generation
    val lock = java.nio.file.Paths.get(s"$root/_GRAFT_LEARNED_COMPACT.lock")
    java.nio.file.Files.createFile(lock)
    assert(graft.ops.Dedup.compactLearnedDelta(spark, root) === 3L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/learned_g4")))
  }

  test("learned-delta compaction on the EMBED root: the schema-agnostic " +
      "fold serves identical views and replay survives the flip") {
    // the compaction scaladoc claims root-schema agnosticism ("works on any
    // learned root"); the gram-root test above proves one schema — this
    // proves a second (ex_id/plane-bucket/embedding rows) so the claim is
    // evidence, not argument (r11 verdict item 4)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7) + 0.1)
    val novel1 = vec(i => math.cos(i * 1.3) - 0.2)
    val novel2 = vec(i => math.sin(i * 2.9) * 1.5 + 0.4)
    val in = tmp("ecomp-in")
    val root = tmp("ecomp-idx").resolve("index").toString
    val out = tmp("ecomp-out").toString
    graft.ops.Dedup.buildEmbedIndex(
      Seq((100L, base)).toDF("vec_id", "embedding")).write
      .parquet(s"$root/base")
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    // batch 0 learns novel1; batch 1 learns novel2 (and catches a scaled
    // copy of novel1) — learning in BOTH batches so the beforeBatch
    // replay contract has something to distinguish
    Files.writeString(in.resolve("b1.json"), js(1, novel1) + "\n")
    Files.writeString(in.resolve("b2.json"),
      Seq(js(4, novel1.map(_ * 2f)), js(6, novel2)).mkString("", "\n", "\n"))
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    LearningGate.embed().arrivals(arrivals, root, out,
      tmp("ecomp-ck").toString).awaitTermination()
    def view(beforeBatch: Long = Long.MaxValue) =
      graft.ops.Dedup.readWithLearned(spark, root, beforeBatch)
        .orderBy("ex_id").collect().toSeq
    val full = view()
    val below1 = view(beforeBatch = 1)
    assert(full.size > below1.size, "fixture must learn in both batches")
    def verdicts() = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("verdict")).toMap
    val v = verdicts()
    assert(v(4L) === "near" && v(6L) === "new", s"fixture verdicts: $v")
    // compact, then every view is bit-identical across the flip
    assert(graft.ops.Dedup.compactLearnedDelta(spark, root) === 1L)
    assert(view() === full)
    assert(view(beforeBatch = 1) === below1)
    assert(view(beforeBatch = 0) ===
      spark.read.parquet(s"$root/base").orderBy("ex_id").collect().toSeq)
    // replay through the compacted root: verdicts identical (each replayed
    // batch reads knowledge strictly below itself through the generation)
    LearningGate.embed().arrivals(arrivals, root, out,
      tmp("ecomp-ck2").toString).awaitTermination()
    assert(verdicts() === v)
    assert(view() === full)
  }

  test("learned-delta compaction interleaved with a LIVE stream lineage: " +
      "the in-flight batch's strictly-below-b view is identical across " +
      "the flip") {
    // r11 verdict item 5: the compaction test above runs sequential phases
    // (stream done, then compact). Here the compaction lands BETWEEN
    // micro-batches of ONE stream lineage — batch 0 commits, the flip
    // folds it into learned_g1, then batch 1 resumes from the SAME
    // checkpoint and must read knowledge strictly below itself THROUGH THE
    // GENERATION, producing spans bit-identical to an uncompacted twin.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val phrase = "m1 m2 m3 m4 m5 m6"
    def mkIn(name: String): java.nio.file.Path = tmp(name)
    def writeB1(in: java.nio.file.Path): Unit = {
      Files.writeString(in.resolve("b1.json"),
        s"""{"doc_id":1,"text":"$phrase"}""" + "\n")
      Files.setLastModifiedTime(in.resolve("b1.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    }
    def writeB2(in: java.nio.file.Path): Unit = {
      Files.writeString(in.resolve("b2.json"),
        s"""{"doc_id":2,"text":"x1 x2 $phrase y1 y2"}""" + "\n")
      Files.setLastModifiedTime(in.resolve("b2.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    }
    def arrivals(in: java.nio.file.Path) = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    def spans(out: String) = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // interleaved lineage: batch 0 → compact → batch 1 (same checkpoint)
    val in1 = mkIn("icomp-in1")
    val root1 = tmp("icomp-idx1").resolve("index").toString
    val out1 = tmp("icomp-out1").toString
    val ck1 = tmp("icomp-ck1").toString
    graft.ops.Dedup.buildGramIndex(corpus, n = 3).write.parquet(s"$root1/base")
    writeB1(in1)
    LogStream.spanCheckLearningArrivals(arrivals(in1), root1, out1, ck1,
      n = 3).awaitTermination()
    assert(graft.ops.Dedup.compactLearnedDelta(spark, root1) === 1L,
      "the flip lands mid-lineage, after batch 0's commit")
    writeB2(in1)
    LogStream.spanCheckLearningArrivals(arrivals(in1), root1, out1, ck1,
      n = 3).awaitTermination() // resumes the SAME lineage: this is batch 1
    // uncompacted twin: identical input, no flip
    val in2 = mkIn("icomp-in2")
    val root2 = tmp("icomp-idx2").resolve("index").toString
    val out2 = tmp("icomp-out2").toString
    graft.ops.Dedup.buildGramIndex(corpus, n = 3).write.parquet(s"$root2/base")
    writeB1(in2); writeB2(in2)
    LogStream.spanCheckLearningArrivals(arrivals(in2), root2, out2,
      tmp("icomp-ck2").toString, n = 3).awaitTermination()
    assert(spans(out1) === Seq((2L, 3L, 8L, 6L)),
      s"the in-flight batch must see batch 0's knowledge through the " +
        s"compacted generation, got ${spans(out1)}")
    assert(spans(out1) === spans(out2), "bit-identical to the twin")
    def gramView(root: String) =
      graft.ops.Dedup.readWithLearned(spark, root).orderBy("gram")
        .collect().toSeq
    assert(gramView(root1) === gramView(root2),
      "post-flip knowledge must equal the uncompacted twin's")
  }

  test("streaming embedding dedup: LSH-bucketed verdicts vs persisted index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7) + 0.1)
    val other = vec(i => math.cos(i * 1.3) - 0.2)
    val in = tmp("embdedup-in")
    val idx = tmp("embdedup-idx").resolve("index").toString
    val out = tmp("embdedup-out").toString
    val corpus = Seq((100L, base), (101L, other)).toDF("vec_id", "embedding")
    graft.ops.Dedup.buildEmbedIndex(corpus).write.parquet(idx)
    // arrivals: a scaled copy of 100 (scaling preserves every hyperplane
    // sign => same bucket, cosine ~1), a novel direction, and a
    // wrong-dimension vector (must not pass as new content)
    val dup = vec(i => (math.sin(i * 0.7) + 0.1) * 2.5)
    val novel = vec(i => if (i % 2 == 0) 1.0 else -1.0)
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    Files.writeString(in.resolve("b1.json"),
      Seq(js(1, dup), js(2, novel),
        """{"vec_id":3,"embedding":[1.0,2.0]}""").mkString("", "\n", "\n"))
    val arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    val q = LogStream.dedupEmbedArrivals(arrivals, idx, out,
      tmp("embdedup-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    val v = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("verdict"), Option(r.getAs[Any]("match_id")))))
      .toMap
    assert(v(1L) === (("near", Some(100L))), s"got $v")
    assert(v(2L)._1 === "new")
    assert(v(3L)._1 === "invalid",
      "wrong-dimension vectors must not be admitted as new content")
    // verdicts equal the batch operator on the same arrivals
    val batchIn = Seq((1L, dup), (2L, novel), (3L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val bv = graft.ops.Dedup.embedDedupAgainstIndex(
      batchIn, spark.read.parquet(idx), minCosine = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[String]("verdict")).toMap
    assert(bv === v.map { case (k, (vd, _)) => k -> vd })
  }

  test("self-learning embedding dedup: near-copy of a learned novel " +
      "vector caught, invalid never learned, replay-exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7) + 0.1)
    val novel = vec(i => math.cos(i * 1.3) - 0.2)
    val in = tmp("elearn-in")
    val root = tmp("elearn-idx").resolve("index").toString
    val out = tmp("elearn-out").toString
    graft.ops.Dedup.buildEmbedIndex(
      Seq((100L, base)).toDF("vec_id", "embedding")).write
      .parquet(s"$root/base")
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    // batch 1: a novel direction + an invalid vector; batch 2: a SCALED
    // copy of the novel vector (same buckets, cosine 1) + a base near-dup
    Files.writeString(in.resolve("b1.json"),
      Seq(js(1, novel),
        """{"vec_id":3,"embedding":[1.0,2.0]}""").mkString("", "\n", "\n"))
    Files.writeString(in.resolve("b2.json"),
      Seq(js(4, novel.map(_ * 2f)), js(5, base.map(_ * 3f)))
        .mkString("", "\n", "\n"))
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val q = LearningGate.embed().arrivals(arrivals, root, out,
      tmp("elearn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("verdict"), Option(r.getAs[Any]("match_id")))))
      .toMap
    val v = read()
    assert(v(1L)._1 === "new")
    assert(v(3L)._1 === "invalid")
    assert(v(4L) === (("near", Some(1L))),
      s"scaled copy must match the LEARNED novel vector, got $v")
    assert(v(5L) === (("near", Some(100L))), s"got $v")
    // invalid was never learned
    val learnedIds = spark.read.parquet(s"$root/learned")
      .select("ex_id").as[Long].collect().toSet
    assert(learnedIds === Set(1L),
      s"only the valid novel vector may be learned, got $learnedIds")
    // replay-exact
    LearningGate.embed().arrivals(arrivals, root, out,
      tmp("elearn-ck2").toString).awaitTermination()
    assert(read() === v)
  }

  test("streaming incremental SemDeDup: cluster-blocked verdicts vs persisted index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7) + 0.1)
    val other = vec(i => math.cos(i * 1.3) - 0.2)
    val in = tmp("semdedup-in")
    val idx = tmp("semdedup-idx").resolve("index").toString
    val out = tmp("semdedup-out").toString
    val corpus = Seq((100L, base), (101L, other)).toDF("vec_id", "embedding")
    val (centroids, members) =
      graft.ops.Similarity.buildSemIndex(corpus, nCentroids = 2)
    centroids.write.parquet(s"$idx/centroids")
    members.write.parquet(s"$idx/members")
    // arrivals: a scaled copy of 100 (scaling preserves the max-inner-
    // product argmax => same cell, cosine ~1), a novel direction (assigned
    // to SOME cell but below the cosine bar => keep), and a
    // wrong-dimension vector (must not pass as novel content)
    val dup = vec(i => (math.sin(i * 0.7) + 0.1) * 2.5)
    val novel = vec(i => if (i % 2 == 0) 1.0 else -1.0)
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    Files.writeString(in.resolve("b1.json"),
      Seq(js(1, dup), js(2, novel),
        """{"vec_id":3,"embedding":[1.0,2.0]}""").mkString("", "\n", "\n"))
    val arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    val q = LogStream.dedupSemArrivals(arrivals, idx, out,
      tmp("semdedup-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    val v = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("verdict"), Option(r.getAs[Any]("match_id")))))
      .toMap
    assert(v(1L) === (("prune", Some(100L))), s"got $v")
    assert(v(2L)._1 === "keep")
    assert(v(3L)._1 === "invalid",
      "wrong-dimension vectors must not be admitted as novel content")
    // verdicts equal the batch operator on the same arrivals
    val batchIn = Seq((1L, dup), (2L, novel), (3L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val bv = graft.ops.Similarity.semDedupAgainstIndex(
      batchIn, spark.read.parquet(s"$idx/centroids"),
      spark.read.parquet(s"$idx/members"), minCosine = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[String]("verdict")).toMap
    assert(bv === v.map { case (k, (vd, _)) => k -> vd })
  }

  test("streaming ANN arrivals: top-k from the persisted PQ index, batch parity, zero state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val in = tmp("ann-in")
    val idx = tmp("ann-idx").resolve("index").toString
    val out = tmp("ann-out").toString
    // 6 distinct directions; codebooks train on all 6 (seed limit 16 > 6)
    val corpus = (0 until 6).map(s =>
      (100L + s, vec(i => math.sin(i * 0.37 + s * 1.1) + 0.05 * s)))
      .toDF("vec_id", "embedding")
    // NON-default geometry (8 sub-spaces): the stream must follow the
    // index's persisted geometry columns, not a hardcoded default — an
    // ingest-cadence rebuild may legitimately re-size the quantizer
    val (cb, codes) = graft.ops.Similarity.buildPqIndex(corpus, subspaces = 8)
    cb.write.parquet(s"$idx/codebooks")
    codes.write.parquet(s"$idx/codes")
    // arrivals: a scaled copy of corpus vector 100 (ADC ranks by
    // reconstruction cosine => its nearest neighbor is 100) and a second
    // query in another direction
    val nearCopy = vec(i => (math.sin(i * 0.37) ) * 3.0)
    val probe = vec(i => math.sin(i * 0.37 + 3 * 1.1) + 0.15)
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    Files.writeString(in.resolve("b1.json"),
      Seq(js(1, nearCopy), js(2, probe)).mkString("", "\n", "\n"))
    val arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    val q = LogStream.annArrivals(arrivals, idx, out,
      tmp("ann-ck").toString, k = 2)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    val rows = spark.read.parquet(out).collect()
    // every query gets ranks 1..k over corpus candidates
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet === Set(1L, 2L))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === Seq(1L, 2L))
      assert(rs.forall(_.getAs[Long]("cand_id") >= 100L))
    }
    val top1 = byQ(1L).minBy(_.getAs[Long]("rank")).getAs[Long]("cand_id")
    assert(top1 === 100L, s"scaled copy of 100 must rank 100 first, got $top1")
    // results equal the batch operator on the same arrivals (same parity
    // contract as the dedup family)
    val batchIn = Seq((1L, nearCopy), (2L, probe)).toDF("vec_id", "embedding")
    val bv = graft.ops.Similarity.topkPqAgainstIndex(batchIn,
      spark.read.parquet(s"$idx/codebooks"),
      spark.read.parquet(s"$idx/codes"), k = 2, subspaces = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("cand_id"), r.getAs[Double]("adc_score"))).toSet
    assert(bv === rows.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("rank"), r.getAs[Long]("cand_id"),
      r.getAs[Double]("adc_score"))).toSet)
  }

  test("self-learning streaming dedup: later batches catch duplicates of " +
      "earlier novel arrivals, replay-exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("learn-in")
    val root = tmp("learn-idx").resolve("index").toString
    val out = tmp("learn-out").toString
    val corpus = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.buildCorpusIndex(corpus).write.parquet(s"$root/base")
    // batch 1: one base dup, one genuinely novel doc
    Files.writeString(in.resolve("b1.csv"),
      "1,alpha beta gamma delta epsilon\n" +
        "3,unrelated completely novel arrival words\n")
    // batch 2: an exact and a near (reordered) copy of batch 1's NOVEL doc
    Files.writeString(in.resolve("b2.csv"),
      "4,unrelated completely novel arrival words\n" +
        "5,words arrival novel completely unrelated\n")
    // the file source orders batches by modification time — same-ms
    // writes are a coin flip, so pin the intended order explicitly
    Files.setLastModifiedTime(in.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").csv(in.toString)
    val q = LogStream.dedupLearningArrivals(arrivals, root, out,
      tmp("learn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().toSet
    val v = read()
    assert(v((1L, "exact", Some(100L))))
    assert(v((3L, "new", None)), s"novel doc must be new, got $v")
    assert(v((4L, "exact", Some(3L))),
      s"batch-2 copy of the learned novel doc must be exact vs 3, got $v")
    assert(v((5L, "near", Some(3L))),
      s"reordered copy must be near vs 3, got $v")
    // the STATIC-index stream misses exactly these (the gap this closes)
    val staticV = graft.ops.Dedup.dedupAgainstIndex(
      Seq((4L, "unrelated completely novel arrival words")).toDF("doc_id", "text"),
      spark.read.parquet(s"$root/base"))
      .select("verdict").head().getString(0)
    assert(staticV === "new")
    // replay-exact: a fresh checkpoint reprocesses both files into the
    // same batch ids; learned and verdict partitions overwrite themselves
    LogStream.dedupLearningArrivals(arrivals, root, out,
      tmp("learn-ck2").toString).awaitTermination()
    assert(read() === v, "replayed run must reproduce verdicts bitwise")
    assert(spark.read.parquet(out).count() === 4)
  }

  test("stream sinks overwrite per write: a static session conf stays " +
      "static and earlier batch partitions survive") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val in = tmp("pow-in")
      val root = tmp("pow-idx").resolve("index").toString
      graft.ops.Dedup.buildCorpusIndex(
        Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
        .write.parquet(s"$root/base")
      Files.writeString(in.resolve("b1.csv"), "1,first novel arrival words\n")
      Files.writeString(in.resolve("b2.csv"), "2,second novel arrival text\n")
      Files.setLastModifiedTime(in.resolve("b1.csv"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
      Files.setLastModifiedTime(in.resolve("b2.csv"),
        java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
      def arrivals = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").csv(in.toString)
      def partitions(path: String): Set[String] =
        Files.list(java.nio.file.Paths.get(path)).toArray.toSeq
          .map(_.toString.split('/').last).filter(_.startsWith("batch_id="))
          .toSet
      val both = Set("batch_id=0", "batch_id=1")
      // a learning stream: verdict sink and learned delta
      val learnOut = tmp("pow-learn-out").toString
      LogStream.dedupLearningArrivals(arrivals, root, learnOut,
        tmp("pow-learn-ck").toString).awaitTermination()
      assert(spark.conf.get(key) === "static")
      assert(partitions(learnOut) === both)
      assert(partitions(s"$root/learned") === both)
      // a static-index stream
      val staticOut = tmp("pow-static-out").toString
      LogStream.dedupArrivals(arrivals, s"$root/base", staticOut,
        tmp("pow-static-ck").toString).awaitTermination()
      assert(spark.conf.get(key) === "static")
      assert(partitions(staticOut) === both)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("learning replay deletes its scratch root: the d24 entry leaves no " +
      "graft_learn_* directory behind") {
    import spark.implicits._
    val dir = tmp("learn-replay-sf")
    // cohorts % 10 <= 6 form the base; 7/8/9 arrive as batches 0/1/2
    (0L until 40L).map(i => (i, s"document ${i % 13} body words"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val tmpDir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratchRoots(): Set[String] = Files.list(tmpDir).toArray.toSeq
      .map(_.toString.split('/').last).filter(_.startsWith("graft_learn_"))
      .toSet
    val before = scratchRoots()
    val v = SparkEntry.run(spark, "d24_learning_dedup", dir.toString)(
      _.select("batch_id", "doc_id", "verdict", "match_id")
        .as[(Long, Long, String, Option[Long])].collect())
    assert(scratchRoots() -- before === Set.empty[String])
    // the verdicts include the planted copy only a learned row can catch
    assert(v.length === 14)
    assert(v.contains((1L, -101L, "exact", Some(-100L))), v.toSeq)
  }

  test("self-learning URL dedup: a differently-messed alias of a learned " +
      "novel URL is dup; unparseable arrivals are invalid, never learned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("url-learn-in")
    val root = tmp("url-learn-idx").resolve("root").toString
    val out = tmp("url-learn-out").toString
    // base frontier: one known canonical URL
    graft.ops.Dedup.buildUrlIndex(
      Seq((100L, "http://known.example/p?a=1")).toDF("doc_id", "url"))
      .write.parquet(s"$root/base")
    // batch 1: a messed alias of the BASE url (dup vs 100), a novel url,
    // and garbage (invalid — must not be learned)
    Files.writeString(in.resolve("b1.csv"),
      "1,HTTP://Known.example:80/p?a=1#frag\n" +
        "3,https://new.example:8443/x/./y?z=2&a=9\n" +
        "5,not a url\n")
    // batch 2: a DIFFERENTLY-messed alias of batch 1's novel url — only a
    // learned frontier row can catch it — and garbage again
    Files.writeString(in.resolve("b2.csv"),
      "7,HTTPS://NEW.example:8443/x/q/../y?a=9&z=2\n" +
        "9,not a url\n")
    Files.setLastModifiedTime(in.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream.schema("doc_id LONG, raw_url STRING")
      .option("maxFilesPerTrigger", "1").csv(in.toString)
    val q = LearningGate.url.arrivals(arrivals, root, out,
      tmp("url-learn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().toSet
    val v = read()
    assert(v((1L, "dup", Some(100L))), s"base alias must be dup, got $v")
    assert(v((3L, "new", None)))
    assert(v((5L, "invalid", None)))
    assert(v((7L, "dup", Some(3L))),
      s"alias of the learned novel URL must be dup vs 3, got $v")
    assert(v((9L, "invalid", None)))
    // invalid arrivals must never enter the frontier
    val learned = spark.read.parquet(s"$root/learned")
    assert(learned.filter(col("url").isNull).count() === 0)
    assert(learned.count() === 1) // exactly the one novel canonical URL
    // replay-exact: a fresh checkpoint reproduces the verdicts bitwise
    LearningGate.url.arrivals(arrivals, root, out,
      tmp("url-learn-ck2").toString).awaitTermination()
    assert(read() === v)
  }

  test("self-learning NEAR-URL dedup: a one-param-apart alias of a learned " +
      "novel URL is dup through its gram rows; invalid never learned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("urlnear-learn-in")
    val root = tmp("urlnear-learn-idx").resolve("root").toString
    val out = tmp("urlnear-learn-out").toString
    // base gram index: one known canonical URL (7 token bigrams)
    graft.ops.Dedup.buildUrlGramIndex(
      Seq((100L, "http://known.example/p/q?a=1&b=2")).toDF("doc_id", "url"))
      .write.parquet(s"$root/base")
    // batch 1: a ONE-PARAM-APART alias of the base (J = 7/9 vs 100 — the
    // mutation that reads `new` to the exact frontier forever), a novel
    // url, and garbage (invalid — must not be learned)
    Files.writeString(in.resolve("b1.csv"),
      "1,HTTP://Known.example:80/p/./q?b=2&a=1&c=3#f\n" +
        "3,https://new.example:8443/x/y?z=5\n" +
        "5,not a url\n")
    // batch 2: a one-param-apart alias of batch 1's novel url (J = 5/9) —
    // only learned GRAM rows can catch it — and garbage again
    Files.writeString(in.resolve("b2.csv"),
      "7,HTTPS://NEW.example:8443/x/./y?w=9&z=5\n" +
        "9,not a url\n")
    Files.setLastModifiedTime(in.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream.schema("doc_id LONG, raw_url STRING")
      .option("maxFilesPerTrigger", "1").csv(in.toString)
    val q = LearningGate.urlNear().arrivals(arrivals, root, out,
      tmp("urlnear-learn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().toSet
    val v = read()
    assert(v((1L, "dup", Some(100L))), s"near alias of base must be dup, got $v")
    assert(v((3L, "new", None)))
    assert(v((5L, "invalid", None)))
    assert(v((7L, "dup", Some(3L))),
      s"near alias of the learned novel URL must be dup vs 3, got $v")
    assert(v((9L, "invalid", None)))
    // invalid arrivals must never enter the gram index; the one novel URL
    // learned exactly its 6 distinct token bigrams
    val learned = spark.read.parquet(s"$root/learned")
    assert(learned.select("ex_id").distinct().as[Long].collect().toSet
      === Set(3L))
    assert(learned.count() === 6)
    // the measured Jaccard rides along for audit
    val j7 = spark.read.parquet(out).filter(col("doc_id") === 7)
      .select("jaccard").head().getDouble(0)
    assert(math.abs(j7 - 5.0 / 9.0) < 1e-15)
    // replay-exact: a fresh checkpoint reproduces the verdicts bitwise
    LearningGate.urlNear().arrivals(arrivals, root, out,
      tmp("urlnear-learn-ck2").toString).awaitTermination()
    assert(read() === v)
  }

  test("self-learning VIDEO dedup: a re-mux of a learned novel upload is " +
      "dup through its descriptor gram rows; refusals never learned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("video-learn-in")
    val root = tmp("video-learn-idx").resolve("root").toString
    val out = tmp("video-learn-out").toString
    def payload(id: Long): Array[Byte] = graft.fixtures.Video.mp4Remux(id)
    def textOf(id: Long): String = Seq(payload(id)).toDF("payload")
      .select(graft.functions.Staged(
        graft.functions.Mp4SampleTables(col("payload"))).as("f"))
      .select(graft.functions.F.videoDescriptorText("f.tracks"))
      .head().getString(0)
    // base gram index: asset 50's descriptor tokens (class 0, decodable)
    graft.ops.Dedup.buildVideoGramIndex(
      Seq((50L, textOf(50L))).toDF("doc_id", "text"))
      .write.parquet(s"$root/base")
    // one file per batch (distinct mod times): 51 = 50's planted re-mux
    // (differently-packaged bytes, same inventory — dup vs base); 40 =
    // novel (new, learned); 48 = ftyp-free refusal (invalid, NOT learned);
    // 41 = 40's re-mux — dup ONLY through batch 1's learned rows; 20 =
    // moov-free refusal (invalid)
    val batches = Seq(51L -> payload(51L), 40L -> payload(40L),
      48L -> payload(48L), 41L -> payload(41L), 20L -> payload(20L))
    batches.zipWithIndex.foreach { case ((id, bytes), i) =>
      val f = in.resolve(s"$id.mp4")
      Files.write(f, bytes)
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 2000L))
    }
    def arrivals = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", "1").load(in.toString)
      .select(regexp_extract(col("path"), "(\\d+)\\.mp4$", 1).cast("long")
        .as("asset_id"), col("content").as("payload"))
    val q = LearningGate.video().arrivals(arrivals, root, out,
      tmp("video-learn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().toSet
    val v = read()
    assert(v((51L, "dup", Some(50L))), s"re-mux of base must be dup, got $v")
    assert(v((40L, "new", None)))
    assert(v((48L, "invalid", None)))
    assert(v((41L, "dup", Some(40L))),
      s"re-mux of the learned novel upload must be dup vs 40, got $v")
    assert(v((20L, "invalid", None)))
    // refusals never enter the index; the one novel upload learned exactly
    // its distinct per-track descriptor tokens
    val learned = spark.read.parquet(s"$root/learned")
    assert(learned.select("ex_id").distinct().as[Long].collect().toSet
      === Set(40L))
    assert(learned.count() === textOf(40L).split(' ').distinct.length.toLong)
    // re-mux = full-inventory match: jaccard exactly 1.0
    val j41 = spark.read.parquet(out).filter(col("doc_id") === 41)
      .select("jaccard").head().getDouble(0)
    assert(j41 === 1.0)
    // batch parity: the registered gate body over the same arrivals and
    // knowledge state gives the stream's verdicts bitwise
    val b3 = LearningGate.video().batch(
      Seq((41L, payload(41L))).toDF("asset_id", "payload"), root, 3L)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(b3 === Set((41L, "dup", Some(40L))))
    // replay-exact: a fresh checkpoint reproduces the verdicts bitwise
    LearningGate.video().arrivals(arrivals, root, out,
      tmp("video-learn-ck2").toString).awaitTermination()
    assert(read() === v)
  }

  test("self-learning SemDeDup: a paraphrase of a KEPT arrival is pruned " +
      "against it, replay-exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7) + 0.1)
    val other = vec(i => math.cos(i * 1.3) - 0.2)
    val novel = vec(i => math.sin(i * 2.9) * (if (i % 2 == 0) 1 else -1))
    val in = tmp("slearn-in")
    val root = tmp("slearn-idx").resolve("index").toString
    val out = tmp("slearn-out").toString
    val corpus = Seq((100L, base), (101L, other)).toDF("vec_id", "embedding")
    val (centroids, members) =
      graft.ops.Similarity.buildSemIndex(corpus, nCentroids = 2)
    centroids.write.parquet(s"$root/centroids")
    members.write.parquet(s"$root/members/base")
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    // batch 1: a novel direction (keep) + invalid; batch 2: a scaled copy
    // of the novel direction (same cell, cosine 1 vs the LEARNED member)
    Files.writeString(in.resolve("b1.json"),
      Seq(js(1, novel),
        """{"vec_id":3,"embedding":[1.0,2.0]}""").mkString("", "\n", "\n"))
    Files.writeString(in.resolve("b2.json"),
      js(4, novel.map(_ * 2f)) + "\n")
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val q = LearningGate.sem().arrivals(arrivals, root, out,
      tmp("slearn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("verdict"), Option(r.getAs[Any]("match_id")))))
      .toMap
    val v = read()
    assert(v(1L)._1 === "keep", s"novel direction must be kept, got $v")
    assert(v(3L)._1 === "invalid")
    assert(v(4L) === (("prune", Some(1L))),
      s"paraphrase must prune against the LEARNED member, got $v")
    // invalid was never learned
    val learnedIds = spark.read.parquet(s"$root/members/learned")
      .select("ex_id").as[Long].collect().toSet
    assert(learnedIds === Set(1L), s"got $learnedIds")
    // replay-exact
    LearningGate.sem().arrivals(arrivals, root, out,
      tmp("slearn-ck2").toString).awaitTermination()
    assert(read() === v)
  }

  test("streaming PQ index append: frozen-codebook coding, replay-safe, " +
      "visible to the query stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val in = tmp("pqapp-in")
    val idx = tmp("pqapp-idx").resolve("index").toString
    val out = tmp("pqapp-out").toString
    // corpus + index with NON-default geometry (the append must follow
    // the index's persisted columns, not a default)
    val corpus = (0 until 6).map(s =>
      (100L + s, vec(i => math.sin(i * 0.37 + s * 1.1) + 0.05 * s)))
      .toDF("vec_id", "embedding")
    val (cb, codes) = graft.ops.Similarity.buildPqIndex(corpus, subspaces = 8)
    cb.write.parquet(s"$idx/codebooks")
    codes.write.parquet(s"$idx/codes")
    // ingest side: append a NEW direction (200) under the frozen codebooks
    val newVec = vec(i => math.cos(i * 0.53) * 2.0)
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    Files.writeString(in.resolve("b1.json"), js(200, newVec) + "\n")
    val arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    val q = LogStream.pqIndexAppendArrivals(arrivals, idx,
      tmp("pqapp-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    // coded exactly as the batch operator codes it (frozen-codebook parity)
    val streamed = spark.read.parquet(s"$idx/codes_appended")
      .select(col("vec_id"), col("codes")).collect().toSeq
    val batch = graft.ops.Similarity.appendToPqIndex(
      Seq((200L, newVec)).toDF("vec_id", "embedding"),
      spark.read.parquet(s"$idx/codebooks")).collect().toSeq
    assert(streamed === batch)
    assert(streamed.head.getAs[Seq[Long]]("codes").size === 8,
      "append must follow the index's 8-sub-space geometry")
    // replay-safe: a redelivered batch 0 overwrites its own partition
    val arrivals2 = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    LogStream.pqIndexAppendArrivals(arrivals2, idx,
      tmp("pqapp-ck2").toString).awaitTermination()
    assert(spark.read.parquet(s"$idx/codes_appended").count() === 1)
    // readers see base ∪ appended
    assert(graft.ops.Similarity.readPqCodes(spark, idx).count() === 7)
    // the QUERY stream now ranks the appended vector first for a query in
    // its direction — the append/query loop closes with zero shared state
    val qin = tmp("pqapp-qin")
    Files.writeString(qin.resolve("q1.json"),
      js(1, vec(i => math.cos(i * 0.53))) + "\n")
    val queries = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(qin.toString)
    LogStream.annArrivals(queries, idx, out, tmp("pqapp-qck").toString,
      k = 2).awaitTermination()
    val top1 = spark.read.parquet(out).collect()
      .minBy(_.getAs[Long]("rank")).getAs[Long]("cand_id")
    assert(top1 === 200L,
      s"query in the appended direction must rank the appended vector first, got $top1")
    // compaction folds the delta into a marker-committed generation; the
    // query stream resolves the flip transparently (readPqCodes) and the
    // appended vector keeps ranking first from the compacted codes
    graft.ops.Similarity.compactPqIndex(spark, idx)
    assert(graft.ops.Similarity.readPqCodes(spark, idx).count() === 7)
    val out2 = tmp("pqapp-out2").toString
    LogStream.annArrivals(queries, idx, out2, tmp("pqapp-qck2").toString,
      k = 2).awaitTermination()
    val top1c = spark.read.parquet(out2).collect()
      .minBy(_.getAs[Long]("rank")).getAs[Long]("cand_id")
    assert(top1c === 200L,
      "post-compaction query stream must serve the generation's codes")
  }

  test("streaming IVF-PQ lifecycle: frozen-quantizer append, probed query, " +
      "rebuild flip routes both streams") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val in = tmp("ivfpqs-in")
    val roots = tmp("ivfpqs-roots").resolve("container").toString
    val corpusDir = tmp("ivfpqs-corpus")
    val out = tmp("ivfpqs-out").toString
    val corpus = (0 until 6).map(s =>
      (100L + s, vec(i => math.sin(i * 0.37 + s * 1.1) + 0.05 * s)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(s"$corpusDir/emb")
    // v1 committed into the versioned container (non-default geometry —
    // the streams must follow the index, not defaults)
    assert(graft.ops.Similarity.commitIvfPqRoot(spark, corpus, roots,
      nCells = 2, subspaces = 8) === Some(1L))
    val v1 = graft.ops.Similarity.resolvePqIndexPath(spark, roots)
    assert(v1.endsWith("v-00000001"))
    // ingest side: append a new direction THROUGH THE CONTAINER PATH
    val newVec = vec(i => math.cos(i * 0.53) * 2.0)
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    Files.writeString(in.resolve("b1.json"), js(200, newVec) + "\n")
    def arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    val appendCk = tmp("ivfpqs-ck").toString
    val q = LogStream.ivfPqIndexAppendArrivals(arrivals, roots, appendCk)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    // frozen-quantizer parity with the batch operator: bucket AND codes
    val streamed = spark.read.parquet(s"$v1/codes_appended")
      .select(col("vec_id"), col("bucket"), col("codes")).collect().toSeq
    val batch = graft.ops.Similarity.appendToIvfPqIndex(
      Seq((200L, newVec)).toDF("vec_id", "embedding"),
      spark.read.parquet(s"$v1/centroids"),
      spark.read.parquet(s"$v1/codebooks")).collect().toSeq
    assert(streamed === batch)
    assert(streamed.head.getAs[Seq[Long]]("codes").size === 8,
      "append must follow the index's 8-sub-space geometry")
    // corpus table gains the appended vector (IVFADC's vectors-on-disk:
    // the re-rank reads full rows by id from the corpus table)
    val corpus2 = corpus.unionByName(
      Seq((200L, newVec)).toDF("vec_id", "embedding"))
    corpus2.write.mode("overwrite").parquet(s"$corpusDir/emb")
    // query stream in the appended direction ranks it first
    val qin = tmp("ivfpqs-qin")
    Files.writeString(qin.resolve("q1.json"),
      js(1, vec(i => math.cos(i * 0.53))) + "\n")
    def queries = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(qin.toString)
    LogStream.annIvfArrivals(queries, roots, s"$corpusDir/emb", out,
      tmp("ivfpqs-qck").toString, k = 2).awaitTermination()
    val top1 = spark.read.parquet(out).collect()
      .minBy(_.getAs[Long]("rank")).getAs[Long]("cand_id")
    assert(top1 === 200L,
      s"query in the appended direction must rank the appended vector first, got $top1")
    // REBUILD FLIP: retrain on the full corpus into v2; both streams
    // re-resolve the container per batch and route to the new root
    assert(graft.ops.Similarity.commitIvfPqRoot(spark, corpus2, roots,
      nCells = 2, subspaces = 8) === Some(2L))
    assert(graft.ops.Similarity.resolvePqIndexPath(spark, roots)
      .endsWith("v-00000002"))
    val out2 = tmp("ivfpqs-out2").toString
    LogStream.annIvfArrivals(queries, roots, s"$corpusDir/emb", out2,
      tmp("ivfpqs-qck2").toString, k = 2).awaitTermination()
    val top1b = spark.read.parquet(out2).collect()
      .minBy(_.getAs[Long]("rank")).getAs[Long]("cand_id")
    assert(top1b === 200L,
      "post-rebuild query stream must serve the new root's codes")
    // the flip also routes the APPEND stream: the SAME logical stream
    // (same checkpoint) continues, and its next arrival lands in v2's
    // delta, not v1's
    Files.writeString(in.resolve("b2.json"),
      js(201, vec(i => math.cos(i * 0.53) * 1.5)) + "\n")
    LogStream.ivfPqIndexAppendArrivals(arrivals, roots, appendCk)
      .awaitTermination()
    val v2 = graft.ops.Similarity.resolvePqIndexPath(spark, roots)
    assert(spark.read.parquet(s"$v2/codes_appended")
      .select("vec_id").as[Long].collect().toSet === Set(201L),
      "post-flip appends must land in the new root's delta")
    assert(graft.ops.Similarity.readPqCodes(spark, v2).count() === 8)
  }

  test("concurrent-stream carry-over: a batch the append stream commits " +
      "between the rebuild's snapshot and the CLI's second carry pass is " +
      "caught by the fresh read (r12 verdict item 6)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val in = tmp("carry-in")
    val roots = tmp("carry-roots").resolve("container").toString
    val corpusDir = tmp("carry-corpus").resolve("emb").toString
    val corpus = (0 until 6).map(s =>
      (100L + s, vec(i => math.sin(i * 0.37 + s * 1.1) + 0.05 * s)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(corpusDir)
    assert(graft.ops.Similarity.commitPqRoot(spark, corpus, roots)
      === Some(1L))
    val v1 = graft.ops.Similarity.resolvePqIndexPath(spark, roots)
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    def arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
    val ck = tmp("carry-ck").toString
    // a drifted arrival through the REAL append stream → v1's delta; the
    // corpus table gains it (the architecture's invariant: appended
    // vectors land in the corpus the drift monitor joins)
    val drift1 = vec(i => math.cos(i * 0.53) * 10.0 + 5.0)
    Files.writeString(in.resolve("b1.json"), js(200, drift1) + "\n")
    LogStream.pqIndexAppendArrivals(arrivals, roots, ck).awaitTermination()
    val corpus2 = corpus.unionByName(
      Seq((200L, drift1)).toDF("vec_id", "embedding"))
    corpus2.write.mode("overwrite").parquet(corpusDir)
    // the REBUILD'S SNAPSHOT: the maintenance job's frozen view of the
    // corpus, captured before its build starts
    val snapshot = spark.read.parquet(corpusDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    // …and the LIVE STREAM commits another batch between that snapshot
    // and the flip: vec 201 lands in v1's delta (the container still
    // resolves to v1) and in the corpus table — invisible to the snapshot
    val drift2 = vec(i => math.cos(i * 0.53) * 9.0 + 4.0)
    Files.writeString(in.resolve("b2.json"), js(201, drift2) + "\n")
    LogStream.pqIndexAppendArrivals(arrivals, roots, ck).awaitTermination()
    assert(spark.read.parquet(s"$v1/codes_appended")
      .select("vec_id").as[Long].collect().toSet === Set(200L, 201L))
    corpus2.unionByName(Seq((201L, drift2)).toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(corpusDir)
    // drift-tripped rebuild FROM THE SNAPSHOT → v2; the rebuild's own
    // carry pass runs with the frozen view, so 201 (absent from it) is
    // dropped — exactly the residual documented at carryOverAppended
    assert(graft.ops.Similarity.rebuildPqRootIfDrifted(spark, snapshot, roots)
      === Some(2L))
    val v2 = graft.ops.Similarity.resolvePqIndexPath(spark, roots)
    val afterInternal = graft.ops.Similarity.readPqCodes(spark, v2)
      .select("vec_id").as[Long].collect().toSet
    assert(afterInternal.contains(200L),
      "snapshot-visible in-flight vector carried by the rebuild itself")
    assert(!afterInternal.contains(201L),
      "the mid-rebuild batch IS the residual the second pass exists for")
    // the CLI's second carry pass from a FRESH read closes the window
    def freshRead = spark.read.parquet(corpusDir)
      .select(col("vec_id"), col("embedding"))
    graft.ops.Similarity.carryOverAppended(spark, freshRead, v1, v2)
    val servedIds = graft.ops.Similarity.readPqCodes(spark, v2)
      .select("vec_id").as[Long].collect().toSeq
    assert(servedIds.toSet.contains(201L),
      "fresh-read carry must catch the mid-rebuild batch")
    assert(servedIds.size === servedIds.toSet.size, "no duplicated rows")
    // ORIGINAL batch id preserved (the stream's replay contract) and the
    // codes are the NEW quantizer's coding, bit-for-bit
    val carried = spark.read.parquet(s"$v2/codes_appended")
      .filter(col("vec_id") === 201L)
      .select(col("vec_id"), col("codes"), col("batch_id")).collect().toSeq
    // partition-directory type inference may read batch_id back as Int
    assert(carried.map(_.getAs[Number]("batch_id").longValue) === Seq(1L),
      "carried row keeps the batch id the stream wrote it under")
    val expected = graft.ops.Similarity.appendToPqIndex(
      Seq((201L, drift2)).toDF("vec_id", "embedding"),
      spark.read.parquet(s"$v2/codebooks"))
      .select(col("vec_id"), col("codes")).collect().toSeq
    assert(carried.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Seq[Any]]("codes"))) ===
      expected.map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Any]]("codes"))))
    // idempotent: a repeated fresh-read carry adds nothing
    graft.ops.Similarity.carryOverAppended(spark, freshRead, v1, v2)
    assert(graft.ops.Similarity.readPqCodes(spark, v2).count()
      === servedIds.size.toLong)
  }

  test("self-learning media dedup: a re-upload of a novel asset is caught, " +
      "refusals never learned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def pgm(seed: Int): Array[Byte] =
      "P5\n16 8\n255\n".getBytes("US-ASCII") ++
        Array.tabulate[Byte](128)(j => (((seed + j) * (seed + j) * 5
          + (seed + j) * 3 + seed) % 256).toByte)
    val in = tmp("mlearn-in")
    val root = tmp("mlearn-idx").resolve("index").toString
    val out = tmp("mlearn-out").toString
    // string asset ids: the learning stream unions path-keyed learned
    // rows into this index, so the id type must match across the union
    val corpus = Seq(("100", pgm(7))).toDF("asset_id", "payload")
    graft.ops.Dedup.buildMediaIndex(corpus,
      graft.functions.PpmDHash(col("payload"))).write.parquet(s"$root/base")
    // batch 1: a novel image + junk; batch 2: a RE-UPLOAD of the novel
    // image (the static-index stream's blind spot) + a base dup
    Files.write(in.resolve("b1_new.pgm"), pgm(90))
    Files.write(in.resolve("b1_junk.bin"), "not an image".getBytes(UTF_8))
    Files.write(in.resolve("b2_reupload.pgm"), pgm(90))
    Files.write(in.resolve("b2_basedup.pgm"), pgm(7))
    for ((f, t) <- Seq("b1_new.pgm" -> 1000L, "b1_junk.bin" -> 1000L,
        "b2_reupload.pgm" -> 2000L, "b2_basedup.pgm" -> 2000L))
      Files.setLastModifiedTime(in.resolve(f),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + t))
    def arrivals = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", "2").load(in.toString)
    val hash = graft.functions.PpmDHash(col("content"))
    val q = LearningGate.media(hash).arrivals(arrivals, root, out,
      tmp("mlearn-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    def read() = spark.read.parquet(out).collect().map(r => {
      val name = r.getAs[String]("asset_id").split('/').last
      name -> ((r.getAs[String]("verdict"),
        Option(r.getAs[Any]("match_id")).map(_.toString)))
    }).toMap
    val v = read()
    assert(v("b1_new.pgm")._1 === "new")
    assert(v("b1_junk.bin")._1 === "unhashable")
    assert(v("b2_basedup.pgm") === (("exact", Some("100"))), s"got $v")
    val reupload = v("b2_reupload.pgm")
    assert(reupload._1 === "exact" &&
      reupload._2.exists(_.endsWith("b1_new.pgm")),
      s"re-upload must match the LEARNED novel asset, got $v")
    // refusals are not knowledge: learned rows exist only for b1_new
    val learnedIds = spark.read.parquet(s"$root/learned")
      .select("ex_id").as[String].collect().map(_.split('/').last).toSet
    assert(learnedIds === Set("b1_new.pgm"),
      s"only the hashable novel asset may be learned, got $learnedIds")
    // replay-exact
    LearningGate.media(hash).arrivals(arrivals, root, out,
      tmp("mlearn-ck2").toString).awaitTermination()
    assert(read() === v, "replayed run must reproduce verdicts bitwise")
  }

  test("streaming image dedup: hash-in-scan verdicts vs persisted index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // spec-built P5 rasters: 16x8, nonlinear pixel patterns per seed
    def pgm(seed: Int): Array[Byte] =
      "P5\n16 8\n255\n".getBytes("US-ASCII") ++
        Array.tabulate[Byte](128)(j => (((seed + j) * (seed + j) * 5
          + (seed + j) * 3 + seed) % 256).toByte)
    val in = tmp("imgdedup-in")
    val idx = tmp("imgdedup-idx").resolve("index").toString
    val out = tmp("imgdedup-out").toString
    val corpus = Seq((100L, pgm(7)), (101L, pgm(40))).toDF("asset_id", "payload")
    graft.ops.Dedup.buildMediaIndex(corpus,
      graft.functions.PpmDHash(col("payload"))).write.parquet(idx)
    // arrivals: an exact visual dup of 100, a brand-new pattern, junk bytes
    Files.write(in.resolve("a_dup.pgm"), pgm(7))
    Files.write(in.resolve("b_new.pgm"), pgm(90))
    Files.write(in.resolve("c_junk.bin"), "not an image".getBytes(UTF_8))
    val arrivals = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(in.toString)
    val q = LogStream.dedupImageArrivals(arrivals, idx, out,
      tmp("imgdedup-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    val v = spark.read.parquet(out)
      .collect().map(r => {
        val name = r.getAs[String]("asset_id").split('/').last
        name -> ((r.getAs[String]("verdict"),
          Option(r.getAs[Any]("match_id")).map(_.toString)))
      }).toMap
    assert(v("a_dup.pgm") === (("exact", Some("100"))), s"got $v")
    assert(v("b_new.pgm")._1 === "new")
    assert(v("c_junk.bin")._1 === "unhashable",
      "refused payloads must not be admitted as new content")
    // verdicts equal the batch operator on the same arrivals
    val batchIn = Seq(
      (in.resolve("a_dup.pgm").toString, pgm(7)),
      (in.resolve("b_new.pgm").toString, pgm(90)),
      (in.resolve("c_junk.bin").toString, "not an image".getBytes(UTF_8)))
      .toDF("asset_id", "payload")
      .select(col("asset_id"),
        graft.functions.PpmDHash(col("payload")).as("dhash"))
    val batchV = graft.ops.Dedup.mediaDedupAgainstIndex(
      batchIn, spark.read.parquet(idx))
      .collect().map(r => r.getAs[String]("asset_id").split('/').last ->
        r.getAs[String]("verdict")).toMap
    assert(batchV === v.map { case (k, (vd, _)) => k -> vd })
  }

  test("streaming audio dedup: cross-codec verdicts vs persisted index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val byId = Seq(7L, 10L, 11L).map(id => id -> graft.fixtures.Audio.audioCorpus(id)).toMap
    val in = tmp("auddedup-in")
    val idx = tmp("auddedup-idx").resolve("index").toString
    val out = tmp("auddedup-out").toString
    // corpus: asset 10, a WAV recording
    val corpus = Seq((10L, byId(10L))).toDF("asset_id", "payload")
    graft.ops.Dedup.buildMediaIndex(corpus, coalesce(
      graft.functions.WavDHash(col("payload")),
      graft.functions.FlacDHash(col("payload")))).write.parquet(idx)
    // arrivals: asset 11 — the SAME recording re-shipped as FLAC (the
    // cross-codec duplicate the index must catch), asset 7 — a different
    // recording, junk bytes — unhashable
    Files.write(in.resolve("a_dup.flac"), byId(11L))
    Files.write(in.resolve("b_new.wav"), byId(7L))
    Files.write(in.resolve("c_junk.bin"), "not audio".getBytes(UTF_8))
    val arrivals = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(in.toString)
    val q = LogStream.dedupAudioArrivals(arrivals, idx, out,
      tmp("auddedup-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "must hold zero state")
    val v = spark.read.parquet(out)
      .collect().map(r => {
        val name = r.getAs[String]("asset_id").split('/').last
        name -> ((r.getAs[String]("verdict"),
          Option(r.getAs[Any]("match_id")).map(_.toString)))
      }).toMap
    assert(v("a_dup.flac") === (("exact", Some("10"))),
      s"a FLAC re-encode of an indexed WAV recording must dedup exactly; got $v")
    assert(v("b_new.wav")._1 === "new")
    assert(v("c_junk.bin")._1 === "unhashable")
  }

  test("streaming dedup against the warehouse: verdicts match batch, index refreshes, zero state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = tmp("ddup-in")
    val idx = tmp("ddup-idx").resolve("index").toString
    val out = tmp("ddup-out").toString
    val ck = tmp("ddup-ck").toString
    val corpus1 = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "the quick brown fox jumps over everything")).toDF("doc_id", "text")
    graft.ops.Dedup.buildCorpusIndex(corpus1).write.parquet(idx)
    // batch 1: an exact dup of 100, a NEAR dup of 100 (same word multiset,
    // different byte order => same SimHash, different md5), and a new doc
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"),
      (3L, "unrelated completely novel arrival words"))
    Files.writeString(in.resolve("b1.csv"),
      b1.map { case (i, t) => s"$i,$t" }.mkString("", "\n", "\n"))
    def arrivals = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").csv(in.toString)
    val q1 = LogStream.dedupArrivals(arrivals, idx, out, ck)
    q1.awaitTermination()
    // no stateful operator: the corpus lives in the warehouse index, so a
    // year-long run carries nothing between triggers but source offsets
    assert(q1.lastProgress.stateOperators.isEmpty,
      "stream-vs-warehouse dedup must hold zero state-store state")
    val v1 = spark.read.parquet(out)
      .select("doc_id", "verdict", "match_id").as[(Long, String, Option[Long])]
      .collect().toSet
    assert(v1((1L, "exact", Some(100L))), s"exact dup verdict missing in $v1")
    assert(v1((2L, "near", Some(100L))), s"reordered text must be near, got $v1")
    // byte-for-byte the batch operator's verdicts on the same arrivals
    val batch1 = graft.ops.Dedup.dedupAgainst(b1.toDF("doc_id", "text"), corpus1)
      .as[(Long, String, Option[Long])].collect().toSet
    assert(v1 === batch1)
    // corpus grows between batches (ingest/compaction refreshes the index);
    // the NEXT micro-batch must see it without a query restart ceremony —
    // foreachBatch re-reads the index path per batch
    val corpus2 = Seq((200L, "fresh corpus document added much later")).toDF("doc_id", "text")
    graft.ops.Dedup.buildCorpusIndex(corpus2).write.mode("append").parquet(idx)
    val b2 = Seq(
      (4L, "fresh corpus document added much later"),
      (5L, "yet another brand new arrival"))
    Files.writeString(in.resolve("b2.csv"),
      b2.map { case (i, t) => s"$i,$t" }.mkString("", "\n", "\n"))
    val q2 = LogStream.dedupArrivals(arrivals, idx, out, ck)
    q2.awaitTermination()
    val v2 = spark.read.parquet(out)
      .select("doc_id", "verdict", "match_id").as[(Long, String, Option[Long])]
      .collect().toSet
    assert(v2((4L, "exact", Some(200L))),
      s"batch 2 must see the refreshed corpus index, got $v2")
    val batch2 = graft.ops.Dedup.dedupAgainst(
      b2.toDF("doc_id", "text"), corpus1.union(corpus2))
      .as[(Long, String, Option[Long])].collect().toSet
    assert(v2 === batch1 ++ batch2,
      "every batch's verdicts must equal the batch operator against the corpus as of that batch")
  }
  test("self-learning BANDED embedding dedup: the 4-table stream learns a " +
      "novel vector's banded rows under the index's geometry and catches " +
      "its re-upload; refusals never learned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7) + 0.1)
    val novel = vec(i => math.cos(i * 1.3) - 0.2)
    val in = tmp("blearn-in")
    val root = tmp("blearn-idx").resolve("index").toString
    val out = tmp("blearn-out").toString
    // non-default geometry: the stream must FOLLOW it (planes=5), both in
    // the verdict join and in the banded rows it learns
    graft.ops.Dedup.buildEmbedIndexBanded(
      Seq((100L, base)).toDF("vec_id", "embedding"), planes = 5, tables = 4)
      .write.parquet(s"$root/base")
    def js(id: Long, e: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
    Files.writeString(in.resolve("b1.json"),
      Seq(js(1, novel), """{"vec_id":2,"embedding":[1.0,2.0]}""")
        .mkString("", "\n", "\n"))
    Files.writeString(in.resolve("b2.json"), js(4, novel) + "\n")
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    LearningGate.banded().arrivals(arrivals, root, out,
      tmp("blearn-ck").toString).awaitTermination()
    val v = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[String]("verdict"), r.getAs[Long]("match_id")))).toMap
    assert(v(1L)._1 === "new", s"novel arrival: $v")
    assert(v(2L)._1 === "invalid", "wrong-dimension refusal")
    assert(v(4L) === ("near", 1L),
      "byte-identical re-upload collides in EVERY band, caught through " +
        "the learned rows alone")
    // the learned delta holds exactly the novel vector's 4 banded rows at
    // the INDEX's plane count — the refusal learned nothing
    val learned = spark.read.parquet(s"$root/learned")
    assert(learned.filter(col("ex_id") === 1L).count() === 4L)
    assert(learned.filter(col("ex_id") === 2L).count() === 0L)
    assert(learned.select("planes").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(5), "geometry followed from the index")
    // replay-exact: a fresh checkpoint reproduces the verdicts bitwise
    LearningGate.banded().arrivals(arrivals, root, out,
      tmp("blearn-ck2").toString).awaitTermination()
    val v2 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[String]("verdict"), r.getAs[Long]("match_id")))).toMap
    assert(v2 === v)
  }
  test("streaming decontamination gate: arrivals carrying an eval snippet " +
      "are quarantined against the persisted eval-gram index, zero state, " +
      "replay-exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val evalDocs = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2000L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val idxPath = tmp("contam-idx").resolve("eval_grams").toString
    graft.ops.Dedup.buildEvalGramIndex(evalDocs, n = 8)
      .write.parquet(idxPath)
    val in = tmp("contam-in")
    val out = tmp("contam-out").toString
    def js(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text"}"""
    // batch 0: doc 1 embeds 9 words of eval 1000 (two shared 8-grams),
    // doc 2 is clean; batch 1: doc 3 embeds 8 words of eval 2000
    Files.writeString(in.resolve("b1.json"), Seq(
      js(1, "intro alpha beta gamma delta epsilon zeta eta theta iota outro"),
      js(2, "totally unrelated words that share nothing with the benchmark set"))
      .mkString("", "\n", "\n"))
    Files.writeString(in.resolve("b2.json"),
      js(3, "one two three four five six seven eight padding padding") + "\n")
    Files.setLastModifiedTime(in.resolve("b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(in.resolve("b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000002000L))
    def arrivals = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val q = LogStream.contaminationArrivals(arrivals, idxPath, out,
      tmp("contam-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "zero state-store state")
    def verdicts() = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("eval_id"),
          r.getAs[Long]("shared_grams"))).toMap
    val v = verdicts()
    assert(v(1L)._1 === "contaminated" && v(1L)._2 === 1000L &&
      v(1L)._3 === 2L, s"snippet carrier quarantined: $v")
    assert(v(2L)._1 === "clean")
    assert(v(3L) === ("contaminated", 2000L, 1L),
      "the batch-1 arrival checks against the same frozen index")
    // verdicts equal the batch operator batch-for-batch (shared body)
    val batchV = graft.ops.Dedup.contaminationGateAgainstIndex(
      Seq((1L, "intro alpha beta gamma delta epsilon zeta eta theta iota outro"))
        .toDF("doc_id", "text"),
      spark.read.parquet(idxPath)).collect()
    assert(batchV.head.getAs[String]("verdict") === "contaminated" &&
      batchV.head.getAs[Long]("shared_grams") === 2L)
    // replay from a fresh checkpoint reproduces verdicts bitwise
    LogStream.contaminationArrivals(arrivals, idxPath, out,
      tmp("contam-ck2").toString).awaitTermination()
    assert(verdicts() === v)
  }
  test("streaming admission pipeline: one micro-batch through all three " +
      "gates against persisted indexes - contamination quarantined over a " +
      "duplicate, refused embedding never admitted, zero state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(64)(i => f(i).toFloat)
    val corpusText = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (200L, "entirely different corpus content about storage engines"))
      .toDF("doc_id", "text")
    val corpusVecs = Seq(
      (100L, vec(i => math.sin(i * 0.7) + 0.1)),
      (200L, vec(i => math.cos(i * 1.3) - 0.2)))
      .toDF("vec_id", "embedding")
    val evalDocs = Seq(
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val base = tmp("admit-idx")
    val (textIdx, embIdx, evalIdx) = (base.resolve("text").toString,
      base.resolve("emb").toString, base.resolve("eval").toString)
    graft.ops.Dedup.buildCorpusIndex(corpusText).write.parquet(textIdx)
    graft.ops.Dedup.buildEmbedIndexBanded(corpusVecs, planes = 5)
      .write.parquet(embIdx)
    graft.ops.Dedup.buildEvalGramIndex(evalDocs, n = 8).write.parquet(evalIdx)
    val in = tmp("admit-in")
    val out = tmp("admit-out").toString
    def js(id: Long, text: String, e: Array[Float]) =
      s"""{"doc_id":$id,"text":"$text","embedding":[${e.mkString(",")}]}"""
    val fresh = vec(i => math.sin(i * 2.9) * 1.5 + 0.4)
    Files.writeString(in.resolve("b1.json"), Seq(
      // byte-identical to corpus doc 100 AND carrying an eval snippet:
      // contamination must outrank the duplicate
      js(1, "the quick brown fox jumps over the lazy dog tonight" +
        " alpha beta gamma delta epsilon zeta eta theta iota", fresh),
      // plain duplicate of corpus doc 100 (exact content hash)
      js(2, "the quick brown fox jumps over the lazy dog tonight", fresh),
      // semantic duplicate: novel text, embedding identical to corpus 200
      js(3, "completely novel words nowhere else in any corpus table",
        vec(i => math.cos(i * 1.3) - 0.2)),
      // refused embedding: novel text, wrong-dimension vector
      s"""{"doc_id":4,"text":"novel but unverifiable semantic content here","embedding":[1.0,2.0]}""",
      // clean admit
      js(5, "some perfectly ordinary admissible new document text", fresh),
      // refused TEXT: null text means the hash and shingle gates produce
      // no rows — the doc must be quarantined, not silently admitted
      s"""{"doc_id":6,"text":null,"embedding":[${fresh.mkString(",")}]}""",
      // empty text but a semantic duplicate: the embed gate's positive
      // evidence outranks the text refusal
      s"""{"doc_id":7,"text":"","embedding":[${vec(i => math.cos(i * 1.3) - 0.2).mkString(",")}]}""")
      .mkString("", "\n", "\n"))
    val q = LogStream.admissionArrivals(arrivalsOf(in), textIdx, embIdx,
      evalIdx, out, tmp("admit-ck").toString)
    q.awaitTermination()
    assert(q.lastProgress.stateOperators.isEmpty, "zero state-store state")
    def decisions() = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision")).toMap
    val d = decisions()
    assert(d === Map(1L -> "quarantine_contaminated", 2L -> "drop_duplicate",
      3L -> "drop_semantic_duplicate", 4L -> "quarantine_unverifiable",
      5L -> "admit", 6L -> "quarantine_unverifiable",
      7L -> "drop_semantic_duplicate"), s"got $d")
    // the text refusal is recorded as its own verdict tier, for audit
    val r6 = spark.read.parquet(out).filter(col("doc_id") === 6L).head()
    assert(r6.getAs[String]("text_verdict") === "invalid")
    // evidence columns ride along: the quarantined doc records WHICH eval
    // doc it leaked, and the dropped duplicate records its exact match
    val r1 = spark.read.parquet(out).filter(col("doc_id") === 1L).head()
    assert(r1.getAs[Long]("eval_id") === 9000L)
    val r2 = spark.read.parquet(out).filter(col("doc_id") === 2L).head()
    assert(r2.getAs[String]("text_verdict") === "exact" &&
      r2.getAs[Long]("text_match") === 100L)
    // replay-exact from a fresh checkpoint
    LogStream.admissionArrivals(arrivalsOf(in), textIdx, embIdx, evalIdx,
      out, tmp("admit-ck2").toString).awaitTermination()
    assert(decisions() === d)
  }

  private def arrivalsOf(in: java.nio.file.Path) =
    spark.readStream
      .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
      .json(in.toString)

  /** A 16-word text drawn from a 2000-word vocabulary by `seed`. */
  private def gateDoc(seed: Long): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(16)(s"w${r.nextInt(2000)}").mkString(" ")
  }

  /** Text-gate batch `b`: base copies, reordered base copies, copies of
    * batch b-1's novel documents, and novel documents.
    */
  private def gateBatch(b: Int): Seq[(Long, String)] = (0 until 20).map { j =>
    val id = 1000L * (b + 1) + j
    id -> (j % 4 match {
      case 0 => gateDoc(j + 1L)
      case 1 => gateDoc(j + 1L).split(' ').reverse.mkString(" ")
      case 2 if b > 0 => gateDoc(1000L * b + j + 1)
      case _ => gateDoc(id)
    })
  }

  /** Lands `docs` as text-gate arrival file `b`, ordered after b-1. */
  private def landText(in: Path, b: Int, docs: Seq[(Long, String)]): Path = {
    val f = in.resolve(s"b$b.csv")
    Files.writeString(f, docs.map { case (id, t) => s"$id,$t" }
      .mkString("", "\n", "\n"))
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 2000L))
    f
  }

  private def textArrivals(in: Path) =
    spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").csv(in.toString)

  /** A text-gate index root whose base holds `gateDoc(1..50)`. */
  private def textRoot(prefix: String): String = {
    import spark.implicits._
    val root = tmp(prefix).resolve("index").toString
    graft.ops.Dedup.buildCorpusIndex((1L to 50L).map(i => (i, gateDoc(i)))
      .toDF("doc_id", "text")).write.parquet(s"$root/base")
    root
  }

  test("gate job budget: a steady-state text-gate micro-batch over a base " +
      "and two learned batches runs at most 8 jobs, each described " +
      "graft:gate/text/<step>") {
    val in = tmp("gbudget-in")
    val root = textRoot("gbudget-idx")
    val out = tmp("gbudget-out").toString
    val ck = tmp("gbudget-ck").toString
    def run(): Unit = LogStream.dedupLearningArrivals(textArrivals(in), root,
      out, ck).awaitTermination()
    landText(in, 0, gateBatch(0)); run()
    landText(in, 1, gateBatch(1)); run()
    landText(in, 2, gateBatch(2))
    val jobs = JobLedger.record(spark)(run())._2.map(_.description)
    info(s"jobs: ${jobs.size} (${jobs.groupBy(identity).map { case (d, n) =>
      s"$d ${n.size}" }.toSeq.sorted.mkString(", ")})")
    assert(jobs.size <= 8, jobs.mkString("\n"))
    jobs.foreach(d =>
      assert(d.startsWith("graft:gate/text/"), s"untagged gate job: $d"))
    Seq("judge", "learned", "verdicts").foreach(step => assert(
      jobs.exists(_.startsWith(s"graft:gate/text/$step/batch=2")), step))
    val v = spark.read.parquet(s"$out/batch_id=2").groupBy("verdict").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v.values.sum === 20L)
    assert(v.keySet === Set("exact", "near", "new"), s"every tier: $v")
  }

  test("a gate batch whose verdict write failed is redelivered: the restart " +
      "reproduces a clean run's verdicts bitwise and its learned rows") {
    def verdicts(out: String) = spark.read.parquet(out)
      .select("batch_id", "doc_id", "verdict", "match_id").collect()
      .map(_.toString).sorted.toSeq
    def learned(root: String) = spark.read.parquet(s"$root/learned")
      .collect().map(_.toString).sorted.toSeq
    // the clean twin
    val cleanIn = tmp("redeliver-clean-in")
    val cleanRoot = textRoot("redeliver-clean-idx")
    val cleanOut = tmp("redeliver-clean-out").toString
    landText(cleanIn, 0, gateBatch(0)); landText(cleanIn, 1, gateBatch(1))
    LogStream.dedupLearningArrivals(textArrivals(cleanIn), cleanRoot, cleanOut,
      tmp("redeliver-clean-ck").toString).awaitTermination()
    // batch 0 commits; batch 1's verdict write meets a regular file where
    // its sink directory should be
    val in = tmp("redeliver-in")
    val root = textRoot("redeliver-idx")
    val out = tmp("redeliver-out").resolve("verdicts")
    val ck = tmp("redeliver-ck").toString
    def run(): Unit = LogStream.dedupLearningArrivals(textArrivals(in), root,
      out.toString, ck).awaitTermination()
    landText(in, 0, gateBatch(0)); run()
    val b1 = landText(in, 1, gateBatch(1))
    val saved = out.resolveSibling("verdicts-saved")
    Files.move(out, saved)
    Files.createFile(out)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    // the learned write may have been cancelled with the failing verdict
    // write; land it, so the restart meets the state a crash between the
    // two writes leaves: batch 1's knowledge written, its verdicts not
    LearningGate.text().batch(spark.read.schema("doc_id LONG, text STRING")
      .csv(b1.toString), root, 1L)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/learned/batch_id=1")))
    Files.delete(out)
    Files.move(saved, out)
    run() // the same checkpoint: batch 1 is redelivered
    assert(verdicts(out.toString) === verdicts(cleanOut))
    assert(learned(root) === learned(cleanRoot))
  }

  test("index reads pin their schemas from the footers: on the text, media " +
      "and banded roots, base, learned/ and learned_g1 read the inferred " +
      "schema and rows") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    /** Batches 0 and 1 learn, compaction folds them into learned_g1, and
      * batch 2 learns into learned/ again.
      */
    def grow(root: String, batch: Int => org.apache.spark.sql.DataFrame): Unit = {
      (0 to 1).foreach(b => batch(b))
      assert(graft.ops.Dedup.compactLearnedDelta(spark, root) === 1L)
      batch(2)
    }
    def check(root: String): Unit =
      Seq("base", "learned", "learned_g1").foreach { part =>
        val path = s"$root/$part"
        val inferred = spark.read.parquet(path)
        val pinned = graft.ops.ParquetMeta.dataSchema(spark, path)
        // names, types, order and nullability; `batch_id` is a partition
        // column of learned/ and a data column of learned_g1
        assert(pinned.contains(StructType(inferred.schema.filterNot(f =>
          part == "learned" && f.name == "batch_id"))), path)
        val read = spark.read.schema(pinned.get).parquet(path)
        assert(read.schema === inferred.schema, path)
        val rows = read.collect().map(_.toString).sorted.toSeq
        assert(rows.nonEmpty, path)
        assert(rows === inferred.collect().map(_.toString).sorted.toSeq, path)
      }
    val text = textRoot("pinned-text")
    grow(text, b => LearningGate.text().batch(gateBatch(b).toDF("doc_id", "text"),
      text, b.toLong))
    check(text)
    // media: string ex_id, learned rows keyed on arrival paths
    def pgm(seed: Int): Array[Byte] =
      "P5\n16 8\n255\n".getBytes("US-ASCII") ++
        Array.tabulate[Byte](128)(j => (((seed + j) * (seed + j) * 5
          + (seed + j) * 3 + seed) % 256).toByte)
    val media = tmp("pinned-media").resolve("index").toString
    graft.ops.Dedup.buildMediaIndex(Seq(("100", pgm(7))).toDF("asset_id", "payload"),
      graft.functions.PpmDHash(col("payload"))).write.parquet(s"$media/base")
    grow(media, b => LearningGate.media(graft.functions.PpmDHash(col("content")))
      .batch(Seq((s"/in/b$b.pgm", pgm(40 + 50 * b))).toDF("path", "content"),
        media, b.toLong))
    check(media)
    // banded: the geometry columns ride in every row
    def vec(f: Int => Double): Array[Float] = Array.tabulate(64)(i => f(i).toFloat)
    val banded = tmp("pinned-banded").resolve("index").toString
    graft.ops.Dedup.buildEmbedIndexBanded(
      Seq((100L, vec(i => math.sin(i * 0.7) + 0.1))).toDF("vec_id", "embedding"),
      planes = 5, tables = 4).write.parquet(s"$banded/base")
    grow(banded, b => LearningGate.banded().batch(
      Seq((b + 1L, vec(i => math.cos(i * (1.3 + b)) - 0.2 * b)))
        .toDF("vec_id", "embedding"), banded, b.toLong))
    check(banded)
  }
}
