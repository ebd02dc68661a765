package graft.cli

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.current_timestamp

import graft.ingest.Warehouse
import graft.model.Config
import graft.render.{DailyReport, Email}
import graft.sources.HostSources
import graft.streaming.LogStream

/** CLI entry points mirroring the reference's four subcommands
  * (`__main__.py:36-74`), plus the index-maintenance verbs a deployment
  * schedules at ingest cadence:
  *
  * {{{
  * graft.cli.Main -c config.toml apache-access <inputDir>
  * graft.cli.Main -c config.toml authfail      <inputDir>
  * graft.cli.Main -c config.toml maillog       <inputDir>
  * graft.cli.Main -c config.toml dailyreport
  * graft.cli.Main -c config.toml compact-index   <indexRoot>
  * graft.cli.Main -c config.toml compact-learned <learnedRoot>
  * graft.cli.Main -c config.toml rebuild-if-drifted {pq|ivfpq} <embParquet> <rootsPath> [driftFactor]
  * graft.cli.Main -c config.toml gc-roots <rootsPath> [keep]
  * graft.cli.Main -c config.toml maintain <warehouseDir>
  * }}}
  *
  * The reference ingests from stdin pipes; the Spark-native equivalent ingests a
  * directory through a Structured Streaming file source with
  * `Trigger.AvailableNow` (catch-up-then-exit — the batch-equivalent run; leave
  * the query running with a processing-time trigger for continuous tailing).
  * The `[database]` config section names the warehouse directory.
  *
  * The maintenance verbs are idempotent and claim-locked (see
  * `docs/PLANS.md` "Claim protocol"): running them from cron/Airflow next
  * to live streams is safe — a concurrent maintainer no-ops, a crashed one
  * is stolen from, and live readers flip by marker without restart. Paths
  * may be local, `hdfs://`, or `s3a://`.
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      "usage: graft.cli.Main -c <config.toml> [-l <logfile>] " +
        "{apache-access|authfail|maillog} <inputDir> | dailyreport | " +
        "compact-index <indexRoot> | compact-learned <learnedRoot> | " +
        "rebuild-if-drifted {pq|ivfpq} <embParquet> <rootsPath> [driftFactor] | " +
        "gc-roots <rootsPath> [keep] | maintain <warehouseDir>")
    sys.exit(2)
  }

  /** Maintenance dispatch, factored from `main` so specs can drive it on a
    * shared session (main's getOrCreate+stop would tear the test session
    * down). Returns a one-line human summary; throws on unknown verbs.
    */
  private[graft] def runMaintenance(spark: SparkSession,
      cmd: List[String]): Option[String] = cmd match {
    case List("compact-index", root) =>
      // accept either a plain index root or a versioned container — the
      // resolver returns the current committed version for a container
      // and the path itself otherwise
      val resolved = graft.ops.Similarity.resolvePqIndexPath(spark, root)
      val g = graft.ops.Similarity.compactPqIndex(spark, resolved)
      Some(s"compact-index $resolved -> generation $g")
    case List("compact-learned", root) =>
      val g = graft.ops.Dedup.compactLearnedDelta(spark, root)
      Some(s"compact-learned $root -> generation $g")
    case "rebuild-if-drifted" :: kind :: emb :: roots :: restArgs
        if (kind == "pq" || kind == "ivfpq") && restArgs.size <= 1 &&
          // numeric args parse INSIDE the guard (r12 advice): a typo'd
          // driftFactor falls through to usage instead of an uncaught
          // NumberFormatException
          restArgs.forall(a => scala.util.Try(a.toDouble).isSuccess) =>
      import org.apache.spark.sql.functions.col
      val factor = restArgs.headOption.map(_.toDouble).getOrElse(1.25)
      def readEmb() = // each call lists the parquet afresh — see below
        spark.read.parquet(emb).select(col("vec_id"), col("embedding"))
      val oldRoot = graft.ops.Similarity.currentPqRoot(spark, roots)
      val v =
        if (kind == "pq")
          graft.ops.Similarity.rebuildPqRootIfDrifted(spark, readEmb(), roots, factor)
        else
          graft.ops.Similarity.rebuildIvfPqRootIfDrifted(spark, readEmb(), roots, factor)
      // second carry pass from a FRESH read (fresh file listing): vectors
      // that streamed into the corpus + old root's delta DURING the
      // rebuild are invisible to the build's snapshot-frozen DataFrame;
      // carryOverAppended is idempotent, so re-carrying what the rebuild
      // already carried is a no-op and only the mid-build window lands
      for (_ <- v; old <- oldRoot)
        graft.ops.Similarity.carryOverAppended(spark, readEmb(), old,
          graft.ops.Similarity.resolvePqIndexPath(spark, roots))
      // keep current + one grace predecessor; older versions are one full
      // index copy each and no in-flight reader can still hold them
      if (v.isDefined) graft.ops.Similarity.gcPqRootVersions(spark, roots)
      Some(v match {
        case Some(n) => s"rebuild-if-drifted $kind $roots -> committed v$n"
        case None => s"rebuild-if-drifted $kind $roots -> no drift (or lost claim), no-op"
      })
    case "gc-roots" :: roots :: restArgs if restArgs.size <= 1 &&
        restArgs.forall(a => scala.util.Try(a.toInt).isSuccess) =>
      val keep = restArgs.headOption.map(_.toInt).getOrElse(2)
      val n = graft.ops.Similarity.gcPqRootVersions(spark, roots, keep)
      Some(s"gc-roots $roots -> removed $n superseded versions (kept $keep)")
    // ONE idempotent pass over every index root under a warehouse — the
    // single cron line a deployment schedules instead of four
    // (r12 verdict stretch item 7). Discovery is structural, one listing
    // level deep: a child with a marker-committed `v-N` version is a
    // versioned container (compact its current version, GC superseded
    // versions); a child carrying a `learned/` delta or a committed
    // learned generation is a self-learning index root (fold the delta);
    // a sem root's `members/` subtree gets the same fold; a child with
    // `codebooks` + `codes` is a plain PQ/IVF-PQ index root (fold its
    // appended codes). Every verb called is claim-locked and idempotent,
    // so overlapping cron fires or a concurrent live stream are safe.
    case List("maintain", warehouse) =>
      val fs = graft.ops.IndexFs.fs(spark, warehouse)
      val actions = graft.ops.IndexFs.childNames(fs, warehouse).sorted.flatMap { name =>
        val child = s"$warehouse/$name"
        if (graft.ops.Similarity.currentPqRoot(spark, child).isDefined) {
          val resolved = graft.ops.Similarity.resolvePqIndexPath(spark, child)
          val g = graft.ops.Similarity.compactPqIndex(spark, resolved)
          val n = graft.ops.Similarity.gcPqRootVersions(spark, child)
          Some(s"$name: container -> generation $g, gc'd $n versions")
        } else {
          val kids = graft.ops.IndexFs.childNames(fs, child)
          if (graft.ops.IndexFs.Learned.holds(kids)) {
            val g = graft.ops.Dedup.compactLearnedDelta(spark, child)
            Some(s"$name: learned root -> generation $g")
          } else if (kids.contains("members") && graft.ops.IndexFs.Learned
              .holds(graft.ops.IndexFs.childNames(fs, s"$child/members"))) {
            val g = graft.ops.Dedup.compactLearnedDelta(spark, s"$child/members")
            Some(s"$name/members: learned root -> generation $g")
          } else if (kids.contains("codebooks") && kids.contains("codes")) {
            val g = graft.ops.Similarity.compactPqIndex(spark, child)
            Some(s"$name: index root -> generation $g")
          } else None
        }
      }
      Some(
        if (actions.isEmpty) s"maintain $warehouse -> no index roots found"
        else s"maintain $warehouse -> ${actions.size} roots: " + actions.mkString("; "))
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    var cfgPath: Option[String] = None
    var logfile: Option[String] = None
    var rest = List.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-c" | "--config" => cfgPath = Some(args(i + 1)); i += 2
        case "-l" | "--logfile" => logfile = Some(args(i + 1)); i += 2
        case a => rest = rest :+ a; i += 1
      }
    }
    val cfg = Config.fromTomlFile(Paths.get(cfgPath.getOrElse(usage())))
    logfile.foreach { lf =>
      System.setErr(new java.io.PrintStream(
        new java.io.FileOutputStream(lf, true), true, "UTF-8"))
    }

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wh = Warehouse(cfg.warehousePath)
    def ck(table: String): String = s"${cfg.warehousePath}/_checkpoints/$table"

    try rest match {
      case List("apache-access", dir) =>
        LogStream.apache(spark, dir, wh, ck("apache_access")).awaitTermination()
      case List("authfail", dir) =>
        LogStream.authfail(spark, dir, wh, ck("authfail")).awaitTermination()
      case List("maillog", dir) =>
        LogStream.maillog(spark, dir, wh, ck("inbox")).awaitTermination()
      case List("dailyreport") =>
        val probe = new HostSources.LiveProbe(
          cfg.dailyreport.logs_dir, cfg.dailyreport.mailbox, spark)
        val report = DailyReport.build(spark, cfg, probe,
          wh, HostSources.localDomains, current_timestamp())
        if (System.console() != null)
          println(Email.pagerForm(report.subject, report.body))
        else
          print(Email.render(report.subject, cfg.dailyreport.recipient, report.body))
      case cmd =>
        runMaintenance(spark, cmd) match {
          case Some(summary) => System.err.println(s"[graft] $summary")
          case None => usage()
        }
    } finally spark.stop()
  }
}
