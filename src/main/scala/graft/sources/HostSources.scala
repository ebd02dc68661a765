package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Host/system sources feeding the daily report (reference §2.1 S6-S8).
  *
  * `nonEmptyFiles` is the data-plane form of the error-log check
  * (dailyreport.py:17-26): a `binaryFile` listing exposes file metadata as
  * columns, so the size predicate is a pushed filter over the listing — no
  * payload read. `vnstatTxRx` navigates the vnstat JSON
  * (dailyreport.py:92-99) with a typed `from_json` schema instead of
  * dict-walking.
  */
object HostSources {

  /** S7 — filesystem metadata source: names of nonempty files in a directory. */
  def nonEmptyFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .filter(col("length") > 0)
      .select(
        element_at(split(col("path"), "/"), -1).as("name"),
        col("length"))
      .orderBy(col("name"))

  /** S6 — vnstat JSON: `interfaces[0].traffic.day[0].{tx,rx}` via a typed
    * nested schema (dailyreport.py:97-98).
    */
  private val vnstatDay = StructType(Seq(
    StructField("tx", LongType), StructField("rx", LongType)))
  private val vnstatTraffic = StructType(Seq(
    StructField("day", ArrayType(vnstatDay))))
  private val vnstatInterface = StructType(Seq(
    StructField("traffic", vnstatTraffic)))
  private val vnstatSchema = StructType(Seq(
    StructField("interfaces", ArrayType(vnstatInterface))))

  def vnstatTxRx(spark: SparkSession, json: String): (Long, Long) = {
    import spark.implicits._
    val row = Seq(json).toDF("j")
      .select(from_json(col("j"), vnstatSchema).as("v"))
      .select(
        col("v.interfaces").getItem(0).getField("traffic")
          .getField("day").getItem(0).getField("tx").as("tx"),
        col("v.interfaces").getItem(0).getField("traffic")
          .getField("day").getItem(0).getField("rx").as("rx"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** S8 — live host probe (reference dailyreport.py:29-107). External commands
    * (`vnstat`, `postconf`) degrade to empty results when unavailable.
    */
  final class LiveProbe(
      logsDir: String,
      mailboxPath: String,
      spark: SparkSession
  ) extends graft.render.DailyReport.SystemProbe {

    def errlogFiles: Seq[(String, Long)] = Try {
      Files.list(Paths.get(logsDir)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => (p.getFileName.toString, Files.size(p))).toSeq
    }.getOrElse(Seq.empty)

    def loadAvg: Seq[String] = Try {
      Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).toSeq
    }.getOrElse(Seq("0", "0", "0"))

    def diskUsage: (Long, Long) = {
      val root = new java.io.File("/")
      (root.getTotalSpace, root.getTotalSpace - root.getFreeSpace)
    }

    def rebootRequired: Option[Seq[String]] = {
      if (Files.exists(Paths.get("/var/run/reboot-required"))) {
        val pkgs = Try(Files.readAllLines(
          Paths.get("/var/run/reboot-required.pkgs")).asScala.toSeq)
          .getOrElse(Seq.empty)
        Some(pkgs)
      } else None
    }

    def mailboxNonEmpty: Boolean = Try {
      val p = Paths.get(mailboxPath)
      Files.exists(p) && Files.size(p) > 0
    }.getOrElse(false)

    def vnstat: (Long, Long) = Try {
      val out = new String(
        Runtime.getRuntime.exec(Array("vnstat", "--json", "d", "2", "-i", "eth0"))
          .getInputStream.readAllBytes())
      vnstatTxRx(spark, out)
    }.getOrElse((0L, 0L))

    def hostname: String =
      Try(java.net.InetAddress.getLocalHost.getHostName).getOrElse("localhost")

    def nowIso: String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())

    def logsDirPath: String = logsDir
  }

  /** Local mail domains (reference maillog.py:118-123: `postconf -hx
    * mydestination`); degrades to an empty set when postfix is absent.
    */
  def localDomains: Seq[String] = Try {
    new String(Runtime.getRuntime.exec(Array("postconf", "-hx", "mydestination"))
      .getInputStream.readAllBytes()).trim.toLowerCase.split(", ").toSeq
  }.getOrElse(Seq.empty)
}
