package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ingest.{Ingest, Warehouse}
import graft.parse.{ApacheParser, AuthfailParser, MailParser}
import graft.streaming.LogStream

/** logs_ingest: each tick lands one apache file, one authfail file and a few
  * mail messages, then runs the three `LogStream` feeds to completion, as
  * three one-shot CLI invocations would.
  *
  * Only the apache file carries malformed lines. The feeds number their
  * micro-batches independently and `Ingest.appendDeadLetters` replaces a
  * batch id's dead letters wholesale, so when two feeds of one tick both dead-
  * letter, the second deletes the first's and the check fails;
  * `--malformed-authfail` plants malformed authfail lines too, to show it.
  */
final class LogsIngest(c: Ctx) extends Workload(c) {
  private val apacheN = if (ctx.smoke) 200 else 2000
  private val authN = if (ctx.smoke) 50 else 500
  private val mailN = 4
  private val BadShare = 0.01
  private val authBadShare = if (ctx.malformedAuthfail) BadShare else 0.0

  private val model = new ReportModel(ctx.now)
  private val wh = Warehouse(ctx.root.resolve("wh").toString)
  private val reports = new DailyReports(ctx, wh)
  private lazy val inApache = ctx.dir("in/apache")
  private lazy val inAuth = ctx.dir("in/authfail")
  private lazy val inMail = ctx.dir("in/mail")
  private def ck(feed: String) = ctx.root.resolve(s"ck/$feed").toString

  private var people = IndexedSeq.empty[Gen.Contact]
  private var attackers = IndexedSeq.empty[String]
  private var inBytes = 0L

  private final case class Tick(apache: Path, apacheOk: Int, apacheBad: Int,
      auth: Path, authOk: Int, authBad: Int, mail: Seq[Path], mails: Seq[Gen.Mail],
      var batch: Map[String, Long] = Map.empty)
  private val ticks = mutable.Map[Int, Tick]()
  private val bodies = mutable.Map[Int, String]()

  def setup(): Unit = {
    val r = ctx.rng(1)
    people = Gen.contacts(r, 24)
    attackers = IndexedSeq.fill(40)(Gen.ipv4(r))
    Seq(inApache, inAuth, inMail).foreach(Files.createDirectories(_))
  }

  /** Tick timestamps fall 20 h to 1 h before the report clock. */
  def prepare(i: Int): Unit = {
    val r = ctx.rng(100 + i)
    val from = ctx.now.minusSeconds(20 * 3600)
    val to = ctx.now.minusSeconds(3600)
    val (al, aBad) = Gen.apacheLines(r, apacheN, from, to, BadShare, model.hit)
    val (fl, fBad) = Gen.authfailLines(r, attackers, authN, from, to, authBadShare,
      model.attempt)
    val mails = (0 until mailN).map(k =>
      Gen.mail(r, people, s"${ctx.seed}-$i-$k", from, to))
    mails.foreach(model.mail)
    val mtime = FileTime.fromMillis(1700000000000L + i * 1000L)
    def land(p: Path, bytes: Array[Byte]): Path = {
      Files.write(p, bytes)
      Files.setLastModifiedTime(p, mtime)
      inBytes += bytes.length
      p
    }
    ticks(i) = Tick(
      land(inApache.resolve(s"t$i.log"), al.mkString("", "\n", "\n").getBytes("UTF-8")),
      al.size - aBad, aBad,
      land(inAuth.resolve(s"t$i.log"), fl.mkString("", "\n", "\n").getBytes("UTF-8")),
      fl.size - fBad, fBad,
      mails.zipWithIndex.map { case (m, k) => land(inMail.resolve(s"t$i-$k.eml"), m.bytes) },
      mails)
  }

  def op(i: Int): Unit = {
    def batchOf(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.batchId
    val a = ctx.runStream("streaming.apache")(
      LogStream.apache(spark, inApache.toString, wh, ck("apache")))
    val f = ctx.runStream("streaming.authfail")(
      LogStream.authfail(spark, inAuth.toString, wh, ck("authfail")))
    val m = ctx.runStream("streaming.maillog")(
      LogStream.maillog(spark, inMail.toString, wh, ck("mail")))
    ticks(i).batch = Map("apache" -> batchOf(a), "authfail" -> batchOf(f),
      "mail" -> batchOf(m))
  }

  private def mailFrame(t: Tick): DataFrame =
    spark.read.format("binaryFile").load(t.mail.map(_.toString): _*)
      .select("content", "modificationTime")

  /** Parse each feed's tick input through the noop sink, then replay the
    * tick's appends and upserts through the public batch calls. Every replay
    * reuses the tick's batch id, which the engine treats as a redelivery, so
    * table contents are unchanged.
    */
  override def probe(i: Int): Unit = {
    val t = ticks(i)
    def parse(feed: String, records: Int)(res: => graft.parse.ParseResult): DataFrame = {
      val r = tracer.span(s"parse.$feed") {
        val r = res
        r.events.write.format("noop").mode("overwrite").save()
        r.deadLetters.write.format("noop").mode("overwrite").save()
        r
      }
      ctx.sample("parse.task_cpu_s", tracer.last.count(Counters.CpuNs) / 1e9)
      ctx.sample(s"parse.$feed.ok_ratio", r.events.count().toDouble / records)
      r.events
    }
    val apache = parse("apache", t.apacheOk + t.apacheBad)(
      ApacheParser.parse(spark.read.text(t.apache.toString)))
    val auth = parse("authfail", t.authOk + t.authBad)(
      AuthfailParser.parse(spark.read.text(t.auth.toString)))
    parse("mail", t.mails.size)(MailParser.parse(mailFrame(t)))

    def append(events: DataFrame, table: String, batch: Long): Unit = {
      tracer.span("ingest.append")(Ingest.appendEvents(events, wh, table, batch))
      val s = tracer.last
      ctx.sample("ingest.append.jobs", s.count(Counters.Jobs).toDouble)
      ctx.sample("ingest.append.bytes", s.count(Counters.OutBytes).toDouble)
      ctx.sample("ingest.append.files", Fs.dataFiles(Path.of(wh.path(table)))
        .count(_.getParent.getFileName.toString == s"batch_id=$batch").toDouble)
    }
    append(apache, "apache_access", t.batch("apache"))
    append(auth, "authfail", t.batch("authfail"))

    val addrSchema = StructType(Seq(StructField("realname", StringType),
      StructField("email_address", StringType)))
    val addrs = spark.createDataFrame(spark.sparkContext.parallelize(
      t.mails.flatMap(m => m.from +: m.recipients).map(c => Row(c.name, c.email)), 1),
      addrSchema)
    tracer.span("ingest.upsert")(Ingest.upsertContacts(addrs, wh))
    ctx.sample("ingest.upsert.jobs", tracer.last.count(Counters.Jobs).toDouble)
    tracer.span("streaming.mail_batch")(
      LogStream.ingestMailBatch(mailFrame(t), wh, t.batch("mail")))
    ctx.sample("streaming.mail_batch.jobs", tracer.last.count(Counters.Jobs).toDouble)
  }

  /** Rows per batch id in each table, read once, after the ticks have run. */
  private lazy val batchCounts: Map[String, Map[Long, Long]] =
    Seq("apache_access", "authfail", "dead_letters", "inbox").map { t =>
      t -> spark.read.parquet(wh.path(t)).groupBy("batch_id").count().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    }.toMap

  /** The tick's batch in every table holds exactly the generated records;
    * after the last tick the contacts table holds every distinct address.
    */
  def check(i: Int): Boolean = {
    val t = ticks(i)
    def rows(table: String, feed: String): Long =
      batchCounts(table).getOrElse(t.batch(feed), 0L)
    val results = Seq(
      "apache rows" -> (rows("apache_access", "apache"), t.apacheOk.toLong),
      "authfail rows" -> (rows("authfail", "authfail"), t.authOk.toLong),
      // the three feeds number their batches independently, so one tick's
      // dead letters from every feed share one batch id
      "dead letters" -> (rows("dead_letters", "apache"),
        (t.apacheBad + t.authBad).toLong),
      "inbox rows" -> (rows("inbox", "mail"), t.mails.size.toLong)) ++
      (if (i == ticks.keys.max) Seq("contacts" -> (wh.contacts(spark).count(), model.contactCount))
       else Nil)
    val wrong = results.filter { case (_, (got, want)) => got != want }
    wrong.foreach { case (what, (got, want)) =>
      System.err.println(s"[perfbench] logs_ingest tick $i: $what = $got, expected $want")
    }
    wrong.isEmpty
  }

  def items(i: Int): Long = (apacheN + authN + mailN).toLong

  def compact(): Unit = DailyReports.compactAll(ctx, wh)

  def closingOp(j: Int): Unit = bodies(j) = reports.build()

  def checkClosing(j: Int): Boolean = {
    val ok = ReportModel.matches(bodies(j), model)
    if (!ok) System.err.println(s"[perfbench] logs_ingest report $j differs from the model")
    ok
  }

  def nominalOpS: Double = 4.0
  def nominalClosingOpS: Double = 1.2

  def store: Path = Path.of(wh.root)
  def storedBytes: Long = Fs.dataBytes(store)
  def inputBytes: Long = inBytes

  override def gauges(): Map[String, Double] = DailyReports.layout(wh)
}
