package graft

import org.apache.spark.sql.functions._

import graft.ingest.Warehouse
import graft.model.{Config, DailyReportCfg, DatabaseDetails, Features}
import graft.render.{DailyReport, Email}

/** End-to-end golden test: fixture warehouse + frozen clock + fake host probe ⇒
  * byte-exact daily report (reference dailyreport.py full composition path with
  * all feature flags on).
  */
class GoldenReportSpec extends GraftSpec {
  import spark.implicits._

  private def fixtureWarehouse(): Warehouse = {
    val wh = Warehouse(tempDir("golden-wh").toString)
    // apache_access: 2 reqlines, one outside the 24 h window
    Seq(
      ("2026-08-11 04:00:00", "GET / HTTP/1.1", 100L, 2000L),
      ("2026-08-11 05:00:00", "GET / HTTP/1.1", 150L, 3000L),
      ("2026-08-11 05:30:00", "GET /about HTTP/1.1", 50L, 500L),
      ("2026-08-01 00:00:00", "GET /old HTTP/1.1", 1L, 1L))
      .toDF("ts", "reqline", "bytesin", "bytesout")
      .select(col("ts").cast("timestamp").as("timestamp"), col("reqline"),
        col("bytesin"), col("bytesout"))
      .write.parquet(wh.path("apache_access"))
    // authfail: numeric INET ordering exercised (9.x before 10.x)
    Seq(
      ("2026-08-11 04:10:00", "root", "10.2.0.1"),
      ("2026-08-11 04:11:00", "root", "9.9.9.9"),
      ("2026-08-11 04:12:00", "admin", "10.2.0.1"))
      .toDF("ts", "username", "src_addr")
      .select(col("ts").cast("timestamp").as("timestamp"), col("username"),
        col("src_addr"))
      .write.parquet(wh.path("authfail"))
    // contacts + inbox + tocc: one message, recipients Bob (local) + Zoe (external)
    Seq((1L, "Alice", "alice@elsewhere.example"),
      (2L, "Bob", "bob@mydomain.example"),
      (3L, "Zoe", "zoe@external.example"))
      .toDF("id", "realname", "email_address")
      .write.parquet(wh.path("inbox_contacts"))
    Seq((1L, "2026-08-11 05:45:00", "Greetings — café", 1L, 2345L, "2026-08-11 05:40:00"))
      .toDF("id", "ts", "subject", "sender_id", "size", "dt")
      .select(col("id"), col("ts").cast("timestamp").as("timestamp"), col("subject"),
        col("sender_id"), col("size"), col("dt").cast("timestamp").as("date"))
      .write.parquet(wh.path("inbox"))
    Seq((1L, 2L), (1L, 3L)).toDF("msg_id", "contact_id")
      .write.parquet(wh.path("inbox_tocc"))
    wh
  }

  /** Ties in every sort key of the three query sections. */
  private def tiesWarehouse(): Warehouse = {
    val wh = Warehouse(tempDir("golden-ties-wh").toString)
    // qty ties: "Ａ" (U+FF21) sorts before "😀" in UTF-8 bytes, after it in
    // UTF-16 code units; the /null group's bytesin are all NULL
    Seq[(String, String, Option[Long], Long)](
      ("2026-08-11 01:00:00", "GET /😀 HTTP/1.1", Some(1L), 10L),
      ("2026-08-11 01:01:00", "GET /Ａ HTTP/1.1", Some(3L), 30L),
      ("2026-08-11 01:02:00", "GET /null HTTP/1.1", None, 5L),
      ("2026-08-11 01:03:00", "GET /😀 HTTP/1.1", Some(2L), 20L),
      ("2026-08-11 01:04:00", "GET /Ａ HTTP/1.1", Some(4L), 40L),
      ("2026-08-11 01:05:00", "GET /null HTTP/1.1", None, 6L),
      ("2026-08-11 01:06:00", "GET /b HTTP/1.1", Some(7L), 70L),
      ("2026-08-11 01:07:00", "GET /a HTTP/1.1", Some(8L), 80L))
      .toDF("ts", "reqline", "bytesin", "bytesout")
      .select(col("ts").cast("timestamp").as("timestamp"), col("reqline"),
        col("bytesin"), col("bytesout"))
      .write.parquet(wh.path("apache_access"))
    // attempt ties across IPv4, IPv6 and an unparseable address
    (Seq("10.0.0.2", "9.0.0.1", "::1", "2001:db8::1", "not-an-ip").flatMap(a => Seq(a, a)) ++
      Seq("fe80::1", "1.1.1.1", "1.1.1.1", "1.1.1.1"))
      .zipWithIndex.map { case (a, i) => (f"2026-08-11 02:$i%02d:00", "root", a) }
      .toDF("ts", "username", "src_addr")
      .select(col("ts").cast("timestamp").as("timestamp"), col("username"),
        col("src_addr"))
      .write.parquet(wh.path("authfail"))
    Seq((1L, "Alice", "alice@elsewhere.example"),
      (2L, "Bob", "bob@mydomain.example"),
      (4L, "Ａ", "wide@mydomain.example"),
      (5L, "😀", "smile@mydomain.example"))
      .toDF("id", "realname", "email_address")
      .write.parquet(wh.path("inbox_contacts"))
    // messages 2 and 1 share a timestamp: ordered by id
    Seq((2L, "2026-08-11 05:00:00", "second"), (1L, "2026-08-11 05:00:00", "first"),
      (3L, "2026-08-11 04:00:00", "earliest"))
      .toDF("id", "ts", "subject")
      .select(col("id"), col("ts").cast("timestamp").as("timestamp"), col("subject"),
        lit(1L).as("sender_id"), (col("id") * 100).as("size"),
        col("ts").cast("timestamp").as("date"))
      .write.parquet(wh.path("inbox"))
    Seq((1L, 2L), (2L, 5L), (2L, 4L), (2L, 2L), (3L, 1L), (3L, 2L))
      .toDF("msg_id", "contact_id")
      .write.parquet(wh.path("inbox_tocc"))
    wh
  }

  private object Probe extends DailyReport.SystemProbe {
    def errlogFiles: Seq[(String, Long)] = Seq(("ingest.err", 42L))
    def loadAvg: Seq[String] = Seq("0.15", "0.10", "0.05")
    def diskUsage: (Long, Long) = (1000000000L, 650000000L)
    def rebootRequired: Option[Seq[String]] = None
    def mailboxNonEmpty: Boolean = false
    def vnstat: (Long, Long) = (123456789L, 987654321L)
    def hostname: String = "testhost"
    def nowIso: String = "2026-08-11T06:00:00Z"
    def logsDirPath: String = "/var/log/graft-errors"
  }

  test("full daily report is byte-exact") {
    val wh = fixtureWarehouse()
    val cfg = Config.fromToml(Seq(
      "[database]", s"""database = \"${wh.root}\"""",
      "username = \"u\"", "password = \"p\"",
      "[features]", "apache_access = true", "authfail = true", "maillog = true",
      "[dailyreport]", "recipient = \"admin@mydomain.example\"",
      "mailbox = \"/var/mail/root\"", "logs_dir = \"/var/log/graft-errors\""))
    val now = lit("2026-08-11 06:00:00").cast("timestamp")
    val report = DailyReport.build(spark, cfg, Probe, wh,
      localDomains = Seq("mydomain.example"), now = now)
    assert(report.subject ===
      "[DISK] [LOGERR] Status Report: testhost, 2026-08-11T06:00:00Z")
    val expectedBody =
      """The following files in /var/log/graft-errors are nonempty:
        |    ingest.err
        |
        |Load: 0.15, 0.10, 0.05
        |
        |Space used on root partition:
        |      650 000 000
        |  / 1 000 000 000
        |   (65.000000%)
        |
        |Data sent yesterday:     123 456 789 B
        |Data received yesterday: 987 654 321 B
        |
        |E-mails received in the past 24 hours:
        |---
        |From:    Alice <alice@elsewhere.example>
        |To:      Bob <bob@mydomain.example>
        |Subject: Greetings — café
        |Date:    2026-08-11T05:40:00Z
        |Size:    2345
        |---
        |
        |Failed SSH login attempts in the past 24 hours:
        |+----------+------------+
        || Attempts | IP Address |
        |+----------+------------+
        ||        2 | 10.2.0.1   |
        ||        1 | 9.9.9.9    |
        |+----------+------------+
        |
        |Website activity in the past 24 hours:
        |+------+---------------------+
        || Hits |       Request       |
        |+------+---------------------+
        ||    2 | GET / HTTP/1.1      |
        ||    1 | GET /about HTTP/1.1 |
        |+------+---------------------+
        |Total bytes sent:     5 500
        |Total bytes received:   300
        |""".stripMargin
    assert(report.body === expectedBody)

    // W6 — EmailMessage-style serialization (reference __main__.py:68-73)
    val email = Email.render(report.subject, "admin@mydomain.example", report.body)
    assert(email.startsWith(
      "Subject: [DISK] [LOGERR] Status Report: testhost, 2026-08-11T06:00:00Z\n" +
        "To: admin@mydomain.example\n" +
        "MIME-Version: 1.0\n" +
        "Content-Type: text/plain; charset=\"utf-8\"\n" +
        "Content-Transfer-Encoding: 8bit\n\n"))
    assert(Email.pagerForm("S", "b\n\n") === "Subject: S\n\nb")
  }

  test("daily report with ties in every sort key is byte-exact") {
    val wh = tiesWarehouse()
    val cfg = Config(DatabaseDetails(wh.root, "u", "p"), Features(true, true, true),
      DailyReportCfg("admin@mydomain.example", "/var/mail/root", "/var/log/graft-errors"))
    val report = DailyReport.build(spark, cfg, Probe, wh,
      localDomains = Seq("mydomain.example"),
      now = lit("2026-08-11 06:00:00").cast("timestamp"))
    val expectedBody =
      """The following files in /var/log/graft-errors are nonempty:
        |    ingest.err
        |
        |Load: 0.15, 0.10, 0.05
        |
        |Space used on root partition:
        |      650 000 000
        |  / 1 000 000 000
        |   (65.000000%)
        |
        |Data sent yesterday:     123 456 789 B
        |Data received yesterday: 987 654 321 B
        |
        |E-mails received in the past 24 hours:
        |---
        |From:    Alice <alice@elsewhere.example>
        |To:      Bob <bob@mydomain.example>
        |Subject: earliest
        |Date:    2026-08-11T04:00:00Z
        |Size:    300
        |---
        |From:    Alice <alice@elsewhere.example>
        |To:      Bob <bob@mydomain.example>
        |Subject: first
        |Date:    2026-08-11T05:00:00Z
        |Size:    100
        |---
        |From:    Alice <alice@elsewhere.example>
        |To:      Bob <bob@mydomain.example>, Ａ <wide@mydomain.example>, 😀 <smile@mydomain.example>
        |Subject: second
        |Date:    2026-08-11T05:00:00Z
        |Size:    200
        |---
        |
        |Failed SSH login attempts in the past 24 hours:
        |+----------+-------------+
        || Attempts |  IP Address |
        |+----------+-------------+
        ||        3 | 1.1.1.1     |
        ||        2 | not-an-ip   |
        ||        2 | 9.0.0.1     |
        ||        2 | 10.0.0.2    |
        ||        2 | ::1         |
        ||        2 | 2001:db8::1 |
        ||        1 | fe80::1     |
        |+----------+-------------+
        |
        |Website activity in the past 24 hours:
        |+------+--------------------+
        || Hits |      Request       |
        |+------+--------------------+
        ||    2 | GET /null HTTP/1.1 |
        ||    2 | GET /Ａ HTTP/1.1    |
        ||    2 | GET /😀 HTTP/1.1   |
        ||    1 | GET /a HTTP/1.1    |
        ||    1 | GET /b HTTP/1.1    |
        |+------+--------------------+
        |Total bytes sent:     261
        |Total bytes received:  25
        |""".stripMargin
    assert(report.body === expectedBody)
  }
}
