package graft.render

import org.apache.spark.sql.{Column, Row, SparkSession}

import graft.functions.F
import graft.model.Config
import graft.reports.Reports

/** Daily-report composer (reference: `src/logsdb/dailyreport.py`).
  *
  * R1 conditional section union (dailyreport.py:116-133), R2 threshold tags
  * (dailyreport.py:12,20,40-41,69-76), R3 priority-ordered tag render
  * (dailyreport.py:134-141), R4/R5 table + width-aligned number rendering
  * (apache_access.py:54-83, authfail.py:31-43, dailyreport.py:36-48,99-107).
  *
  * Host metrics come through [[SystemProbe]] so tests can inject fixtures for the
  * `/proc/loadavg`, `disk_usage`, reboot-required, mailbox and vnstat sources
  * (dailyreport.py:17-107); query sections consume already-computed DataFrames,
  * keeping the composer pure driver-side logic over tiny collected results.
  */
object DailyReport {
  val DiskThreshold = 50 // percentage points, dailyreport.py:12
  val TagSeq: Seq[String] = Seq("DISK", "LOGERR", "REBOOT", "MAIL") // dailyreport.py:14

  trait SystemProbe {
    /** (name, size) for files in the error-log dir. */
    def errlogFiles: Seq[(String, Long)]
    /** first three fields of /proc/loadavg. */
    def loadAvg: Seq[String]
    /** (total, used) bytes of the root filesystem. */
    def diskUsage: (Long, Long)
    /** reboot-required marker + package list, if present. */
    def rebootRequired: Option[Seq[String]]
    /** mailbox nonempty? */
    def mailboxNonEmpty: Boolean
    /** yesterday's (tx, rx) bytes from vnstat JSON. */
    def vnstat: (Long, Long)
    def hostname: String
    def nowIso: String
    def logsDirPath: String
  }

  final case class Report(subject: String, body: String)

  // -- individual sections (each mirrors a check_* function) -------------------

  def errlogsSection(probe: SystemProbe, tags: scala.collection.mutable.Set[String]): Option[String] = {
    val nonempty = probe.errlogFiles.filter(_._2 > 0)
    if (nonempty.nonEmpty) {
      tags += "LOGERR"
      Some(s"The following files in ${probe.logsDirPath} are nonempty:\n" +
        nonempty.map { case (n, _) => s"    $n\n" }.mkString)
    } else None
  }

  def loadSection(probe: SystemProbe): String =
    "Load: " + probe.loadAvg.take(3).mkString(", ") + "\n"

  def diskSection(probe: SystemProbe, tags: scala.collection.mutable.Set[String]): String = {
    val (fssize, fsused) = probe.diskUsage
    val sused = F.longintScala(fsused)
    val ssize = F.longintScala(fssize)
    val width = math.max(sused.length, ssize.length)
    val pctused = 100.0 * fsused / fssize
    if (pctused >= DiskThreshold) tags += "DISK"
    "Space used on root partition:\n    %s\n  / %s\n   (%f%%)\n".format(
      pad(sused, width), pad(ssize, width), pctused)
  }

  def rebootSection(probe: SystemProbe, tags: scala.collection.mutable.Set[String]): Option[String] =
    probe.rebootRequired.map { pkgs =>
      tags += "REBOOT"
      val head = "Reboot required by the following packages:"
      if (pkgs.nonEmpty) head + "\n" + pkgs.map("    " + _ + "\n").mkString
      else head + " UNKNOWN\n"
    }

  def vnstatSection(probe: SystemProbe): String = {
    val (tx, rx) = probe.vnstat
    val sent = F.longintScala(tx)
    val received = F.longintScala(rx)
    val width = math.max(sent.length, received.length)
    "Data sent yesterday:     %s B\nData received yesterday: %s B\n".format(
      pad(sent, width), pad(received, width))
  }

  private def pad(s: String, w: Int): String = " " * (w - s.length) + s

  // -- DB-backed sections over collected query results -------------------------

  /** apache_access.py:52-83 — table + width-aligned byte totals. */
  def apacheSection(hits: Seq[Row], totalIn: Long, totalOut: Long): String = {
    val tbl = TextTable.render(
      Seq("Hits", "Request"), Seq(TextTable.R, TextTable.L),
      hits.map(r => Seq(r.getLong(1).toString, r.getString(0))))
    val sIn = F.longintScala(totalIn)
    val sOut = F.longintScala(totalOut)
    val width = math.max(sIn.length, sOut.length)
    "Website activity in the past 24 hours:\n" + tbl + "\n" +
      s"Total bytes sent:     ${pad(sOut, width)}\n" +
      s"Total bytes received: ${pad(sIn, width)}\n"
  }

  /** authfail.py:30-44. */
  def authfailSection(attempts: Seq[Row]): String = {
    val tbl = TextTable.render(
      Seq("Attempts", "IP Address"), Seq(TextTable.R, TextTable.L),
      attempts.map(r => Seq(r.getLong(1).toString, r.getString(0))))
    "Failed SSH login attempts in the past 24 hours:\n" + tbl + "\n"
  }

  /** maillog.py:106-138 — per-message blocks with UTC dates; empty → "none". */
  def inboxSection(messages: Seq[Row]): String = {
    val title = "E-mails received in the past 24 hours:"
    if (messages.isEmpty) title + " none\n"
    else {
      val blocks = messages.map { r =>
        val sender = F.formatAddressScala(r.getAs[String]("sender_name"),
          r.getAs[String]("sender_email"))
        val recips = r.getAs[scala.collection.Seq[Row]]("recipients")
          .map(c => F.formatAddressScala(c.getString(0), c.getString(1)))
        val dateUtc = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
          .format(r.getAs[java.sql.Timestamp]("date").toInstant)
        s"From:    $sender\n" +
          s"To:      ${recips.mkString(", ")}\n" +
          s"Subject: ${r.getAs[String]("subject")}\n" +
          s"Date:    $dateUtc\n" +
          s"Size:    ${r.getAs[Long]("size")}\n" +
          "---\n"
      }
      title + "\n---\n" + blocks.mkString
    }
  }

  // -- composition (dailyreport.py:116-142) ------------------------------------

  def compose(sections: Seq[Option[String]], tags: Set[String], hostname: String,
      nowIso: String): Report = {
    var body = sections.flatten.filter(_.nonEmpty).mkString("\n")
    if (body.isEmpty) body = "Nothing to report\n"
    val remaining = scala.collection.mutable.Set(tags.toSeq: _*)
    val sb = new StringBuilder
    TagSeq.foreach { t =>
      if (remaining.remove(t)) sb.append("[").append(t).append("] ")
    }
    remaining.toSeq.sorted.foreach(t => sb.append("[").append(t).append("] "))
    sb.append(s"Status Report: $hostname, $nowIso")
    Report(sb.toString, body)
  }

  /** Full pipeline over warehouse tables, mirroring get_daily_report
    * (dailyreport.py:116-142): probe sections first, then feature-gated query
    * sections in the reference's order (inbox, authfail, apache).
    *
    * The query sections are independent, so they are collected concurrently
    * ([[graft.ops.Barrier.concurrently]]); each section's jobs run under
    * `graft:report/<section>`, and a failing section cancels its siblings'
    * jobs before its error is rethrown. The job budget, 9 in all over a
    * compacted warehouse (DailyReportSpec pins it):
    *  - `inbox` 5: three broadcasts (senders, local-domain contacts, the
    *    per-message recipients), the recipients' partial aggregate, the
    *    listing;
    *  - `authfail` 2 and `apache` 2: a partial aggregate and the sorted
    *    result.
    * Warehouse reads are pinned, so no job infers a schema, and the sorts
    * plan no range-sampling job ([[Reports]]). The apache byte totals are
    * summed from the collected hit groups, as the reference accumulates
    * them (apache_access.py:57-73), not by a second scan.
    */
  def build(spark: SparkSession, cfg: Config, probe: SystemProbe,
      warehouse: graft.ingest.Warehouse, localDomains: Seq[String],
      now: Column): Report = {
    val tags = scala.collection.mutable.Set[String]()
    if (probe.mailboxNonEmpty) tags += "MAIL"
    val sections = scala.collection.mutable.ArrayBuffer[Option[String]]()
    sections += errlogsSection(probe, tags)
    sections += rebootSection(probe, tags)
    sections += Some(loadSection(probe))
    sections += Some(diskSection(probe, tags))
    sections += Some(vnstatSection(probe))
    val sc = spark.sparkContext
    def section(name: String)(render: => String): () => String = () => {
      sc.setJobDescription(s"graft:report/$name")
      render
    }
    val queries = Seq(
      Option.when(cfg.features.maillog)(section("inbox") {
        inboxSection(Reports.inboxListing(warehouse.inbox(spark),
          warehouse.contacts(spark), warehouse.tocc(spark), localDomains, now)
          .collect().toSeq)
      }),
      Option.when(cfg.features.authfail)(section("authfail") {
        authfailSection(Reports.authfailAttemptsByIp(warehouse.authfail(spark), now)
          .collect().toSeq)
      }),
      Option.when(cfg.features.apache_access)(section("apache") {
        val hits = Reports.apacheHitsByRequest(warehouse.apache(spark), now)
          .collect().toSeq
        // (reqline, qty, sum_bytesin, sum_bytesout): a NULL group sum counts
        // as 0, as `coalesce(sum, 0)` does; ANSI `sum` throws on overflow,
        // and so does the total
        def total(i: Int) = hits.foldLeft(0L)((acc, r) =>
          if (r.isNullAt(i)) acc else Math.addExact(acc, r.getLong(i)))
        apacheSection(hits, total(2), total(3))
      })).flatten
    sections ++= graft.ops.Barrier.concurrently(sc, "graft-report", queries).map(Some(_))
    compose(sections.toSeq, tags.toSet, probe.hostname, probe.nowIso)
  }
}
