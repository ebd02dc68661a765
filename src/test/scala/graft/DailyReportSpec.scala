package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.{Compaction, Ingest, Warehouse}
import graft.model.{Config, DailyReportCfg, DatabaseDetails, Features, ParsedApache, ParsedAuthfail}
import graft.render.DailyReport

/** `DailyReport.build` over a warehouse written through the engine's own
  * ingest and compaction calls: its Spark job budget, and how a failing
  * section fails.
  */
class DailyReportSpec extends GraftSpec {
  import spark.implicits._

  private val now = lit("2026-08-11 06:00:00").cast("timestamp")

  /** Three batches per table, then one compaction pass (a date is rewritten
    * once it holds two batch leaves; the newest stays live).
    */
  private def engineWarehouse(): Warehouse = {
    val wh = Warehouse(tempDir("report-wh").toString)
    def ts(hour: Long, minute: Int) =
      Timestamp.valueOf(f"2026-08-11 0${hour + 1}:$minute%02d:00")
    (0L to 2L).foreach { b =>
      Ingest.appendEvents(Seq(
        ParsedApache(ts(b, 1), "www.example.com", Some(443), "203.0.113.7", "-",
          Some(100L + b), Some(2000L), Some(10L), Some(200), "GET / HTTP/1.1",
          "GET", "/", "HTTP/1.1", "-", "curl/8.0"),
        ParsedApache(ts(b, 2), "www.example.com", Some(443), "203.0.113.8", "-",
          None, Some(500L), Some(10L), Some(404), s"GET /p$b HTTP/1.1",
          "GET", s"/p$b", "HTTP/1.1", "-", "curl/8.0")).toDF(),
        wh, "apache_access", b)
      Ingest.appendEvents(Seq(ParsedAuthfail(ts(b, 3), "root", s"10.0.0.$b"),
        ParsedAuthfail(ts(b, 4), "admin", "9.9.9.9")).toDF(), wh, "authfail", b)
      Ingest.upsertContacts(Seq(("Alice", "alice@a.example"),
        ("Bob", "bob@mydomain.example")).toDF("realname", "email_address"), wh)
      Ingest.appendEvents(Seq((b + 1, ts(b, 5), s"hello $b", 1L, 100L + b, ts(b, 0)))
        .toDF("id", "timestamp", "subject", "sender_id", "size", "date"),
        wh, "inbox", b)
      Ingest.idempotentAppend(Seq((b + 1, 2L)).toDF("msg_id", "contact_id"),
        wh, "inbox_tocc", b)
    }
    Seq("apache_access", "authfail", "inbox").foreach(t =>
      Compaction.compact(spark, wh, t, minLeaves = 2, keepLatest = 1))
    wh
  }

  private object Probe extends DailyReport.SystemProbe {
    def errlogFiles: Seq[(String, Long)] = Seq.empty
    def loadAvg: Seq[String] = Seq("0.15", "0.10", "0.05")
    def diskUsage: (Long, Long) = (1000L, 100L)
    def rebootRequired: Option[Seq[String]] = None
    def mailboxNonEmpty: Boolean = false
    def vnstat: (Long, Long) = (1L, 2L)
    def hostname: String = "testhost"
    def nowIso: String = "2026-08-11T06:00:00Z"
    def logsDirPath: String = "/var/log/graft-errors"
  }

  private def build(wh: Warehouse): DailyReport.Report =
    DailyReport.build(spark,
      Config(DatabaseDetails(wh.root, "u", "p"),
        Features(apache_access = true, authfail = true, maillog = true),
        DailyReportCfg("admin@mydomain.example", "/nonexistent", "/nonexistent")),
      Probe, wh, Seq("mydomain.example"), now)

  test("the daily report runs at most 9 Spark jobs, each named after its section") {
    val wh = engineWarehouse()
    val first = build(wh).body
    build(wh)
    var body = ""
    val jobs = jobDescriptions { body = build(wh).body }
    info(s"jobs: ${jobs.size} (${jobs.groupBy(identity).map { case (d, n) =>
      s"$d ${n.size}" }.toSeq.sorted.mkString(", ")})")
    assert(jobs.size <= 9, jobs.mkString("\n"))
    jobs.foreach(d => assert(d.startsWith("graft:report/"), s"untagged report job: $d"))
    assert(body === first)
    // the three batches' hits and byte totals, a NULL bytesin group as 0
    assert(body.contains("|    3 | GET / HTTP/1.1   |"), body)
    assert(body.contains("Total bytes sent:     7 500\nTotal bytes received:   303\n"), body)
    assert(body.contains("To:      Bob <bob@mydomain.example>"), body)
  }

  test("a failing section rethrows its error and leaves no job or report thread behind") {
    val wh = engineWarehouse()
    // a corrupt data file in authfail's live leaf: the authfail section's scan fails
    val leaf = Paths.get(wh.path("authfail"), "event_date=2026-08-11", "batch_id=2")
    Files.write(leaf.resolve("part-99999-corrupt.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val e = intercept[Exception](build(wh))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("part-99999-corrupt")), e)
    org.apache.spark.sql.GraftBridge.drain(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-report")))
  }
}
