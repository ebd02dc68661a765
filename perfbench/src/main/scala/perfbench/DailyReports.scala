package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.ingest.{Compaction, Warehouse}
import graft.model.{Config, DailyReportCfg, DatabaseDetails, Features}
import graft.render.DailyReport
import graft.reports.Reports

/** Renders the daily report over a warehouse. Untraced, it is one
  * `DailyReport.build` call. Traced, it makes the same calls `build` makes,
  * through the public `Reports` queries and `DailyReport` section renderers,
  * with a span around each.
  */
final class DailyReports(ctx: Ctx, wh: Warehouse) {
  private val spark = ctx.spark
  private val tracer = ctx.tracer

  private val cfg = Config(DatabaseDetails(wh.root, "bench", "bench"),
    Features(apache_access = true, authfail = true, maillog = true),
    DailyReportCfg("root@localhost", "/nonexistent/mbox", "/nonexistent/logs"))

  /** Fixed host readings: the benchmark measures the warehouse sections. */
  private val probe = new DailyReport.SystemProbe {
    def errlogFiles: Seq[(String, Long)] = Seq.empty
    def loadAvg: Seq[String] = Seq("0.10", "0.20", "0.30")
    def diskUsage: (Long, Long) = (1L << 40, 1L << 38)
    def rebootRequired: Option[Seq[String]] = None
    def mailboxNonEmpty: Boolean = false
    def vnstat: (Long, Long) = (123456789L, 987654321L)
    def hostname: String = "bench"
    def nowIso: String = Gen.UtcIso.format(ctx.now)
    def logsDirPath: String = "/nonexistent/logs"
  }

  def build(): String =
    if (!tracer.enabled)
      DailyReport.build(spark, cfg, probe, wh, Gen.LocalDomains, ctx.nowCol).body
    else tracedBuild()

  /** `Warehouse`'s fact-table read, with the compaction read resolution timed. */
  private def fact(table: String): DataFrame = {
    val root = wh.path(table)
    tracer.span("compaction.resolve")(Compaction.resolveFactPaths(spark, root)) match {
      case Some(paths) if paths.nonEmpty =>
        spark.read.option("basePath", root).parquet(paths: _*)
      case _ => spark.read.parquet(root)
    }
  }

  private def tracedBuild(): String = tracer.span("render.build") {
    val now = ctx.nowCol
    val tags = mutable.Set[String]()
    if (probe.mailboxNonEmpty) tags += "MAIL"
    val sections = mutable.ArrayBuffer[Option[String]]()
    sections += DailyReport.errlogsSection(probe, tags)
    sections += DailyReport.rebootSection(probe, tags)
    sections += Some(DailyReport.loadSection(probe))
    sections += Some(DailyReport.diskSection(probe, tags))
    sections += Some(DailyReport.vnstatSection(probe))
    val listing = tracer.span("reports.inbox_listing") {
      Reports.inboxListing(fact("inbox"), wh.contacts(spark), wh.tocc(spark),
        Gen.LocalDomains, now).collect().toSeq
    }
    sections += Some(DailyReport.inboxSection(listing))
    val attempts = tracer.span("reports.attempts_by_ip") {
      Reports.authfailAttemptsByIp(fact("authfail"), now).collect().toSeq
    }
    sections += Some(DailyReport.authfailSection(attempts))
    val hits = tracer.span("reports.hits_by_request") {
      Reports.apacheHitsByRequest(fact("apache_access"), now).collect().toSeq
    }
    val totals = tracer.span("reports.apache_totals") {
      Reports.apacheTotals(fact("apache_access"), now).collect()(0)
    }
    sections += Some(DailyReport.apacheSection(hits, totals.getLong(0), totals.getLong(1)))
    val body = DailyReport.compose(sections.toSeq, tags.toSet, probe.hostname,
      probe.nowIso).body
    ctx.sample("render.body_bytes", body.getBytes("UTF-8").length.toDouble)
    body
  }
}

object DailyReports {
  val FactTables: Seq[String] = Seq("apache_access", "authfail", "inbox")

  /** Compaction policy: a date is rewritten once it holds two batch leaves,
    * keeping the newest out of the rewrite. The engine's defaults (four and
    * two) would leave a run's few-tick warehouse untouched.
    */
  private val MinLeaves = 2
  private val KeepLatest = 1

  /** One `Compaction.compact` pass over the fact tables, with its layout
    * before and after recorded as per-layer samples.
    */
  def compactAll(ctx: Ctx, wh: Warehouse): Unit = {
    def files(): Double = FactTables.map(t =>
      Fs.dataFiles(java.nio.file.Path.of(wh.path(t))).size).sum.toDouble
    val before = files()
    var rewritten = 0L
    FactTables.foreach { t =>
      ctx.tracer.span("compaction.compact")(
        Compaction.compact(ctx.spark, wh, t, MinLeaves, KeepLatest))
      if (ctx.tracer.enabled) rewritten += ctx.tracer.last.count(Counters.OutBytes)
    }
    if (ctx.tracer.enabled) {
      ctx.sample("compaction.bytes_rewritten", rewritten.toDouble)
      ctx.sample("compaction.files_before", before)
      ctx.sample("compaction.files_after", files())
    }
  }

  /** Leaf directories and data files per date partition of the fact tables. */
  def layout(wh: Warehouse): Map[String, Double] = {
    val files = FactTables.flatMap(t => Fs.dataFiles(java.nio.file.Path.of(wh.path(t))))
    val leaves = files.map(_.getParent).distinct
    val dates = files.map(f => (f.getParent.getParent.getParent, f.getParent.getParent))
      .distinct
    Map(
      "ingest.leaves" -> leaves.size.toDouble,
      "ingest.files_per_date" ->
        (if (dates.isEmpty) 0.0 else files.size.toDouble / dates.size))
  }
}
