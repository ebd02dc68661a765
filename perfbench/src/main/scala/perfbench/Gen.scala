package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every record the engine sees is produced here, and
  * each generator also keeps the plain-Scala facts the checks compare against.
  */
object Gen {
  /** The report clock: noon UTC on a day fixed by the seed, between 2014 and
    * the end of 2023. Anchoring at noon makes a 24-hour window always span
    * exactly two calendar dates, whatever the wall-clock hour of the run. It
    * lies in the past, so inbox rows, which carry their ingest time, always
    * fall inside the report window, which has no upper end.
    */
  def anchor(seed: Long): Instant =
    Instant.parse("2014-01-01T12:00:00Z").plusSeconds(86400L * Math.floorMod(seed, 3650L))

  val LocalDomains: Seq[String] = Seq("example.org")

  private val ApacheTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss Z")
    .withZone(ZoneOffset.UTC)
  private val IsoTs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
    .withZone(ZoneOffset.UTC)
  private val MailDate = DateTimeFormatter.RFC_1123_DATE_TIME.withZone(ZoneOffset.UTC)
  val UtcIso: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  /** Skewed pick in [0, n): low indices are drawn far more often. */
  def skewed(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(r.nextDouble(), 2.5) * n).toInt)

  def ipv4(r: SplittableRandom): String =
    s"${1 + r.nextInt(223)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"

  private def tsBetween(r: SplittableRandom, from: Instant, to: Instant): Instant =
    from.plusSeconds(r.nextLong(math.max(1L, to.getEpochSecond - from.getEpochSecond)))

  // -- apache access log --------------------------------------------------------

  final case class Hit(reqline: String, bytesin: Long, bytesout: Long)

  /** Access-log lines with a planted share of malformed ones. */
  def apacheLines(r: SplittableRandom, n: Int, from: Instant, to: Instant,
      badShare: Double, onHit: (Instant, Hit) => Unit): (Seq[String], Int) = {
    var bad = 0
    val lines = Seq.fill(n) {
      val ts = tsBetween(r, from, to)
      val ip = ipv4(r)
      if (r.nextDouble() < badShare) {
        bad += 1
        s"${ApacheTs.format(ts)}|www.example.com|443|$ip|-|-|-|-|truncated"
      } else {
        val method = if (r.nextInt(10) == 0) "POST" else "GET"
        val path = s"/p/${skewed(r, 400)}"
        val req = s"$method $path HTTP/1.1"
        val bin = 200L + r.nextInt(2000)
        val bout = 500L + r.nextInt(50000)
        val status = if (r.nextInt(20) == 0) 404 else 200
        onHit(ts, Hit(req, bin, bout))
        s"${ApacheTs.format(ts)}|www.example.com|443|$ip|$bin|$bout|" +
          s"${100 + r.nextInt(90000)}|$status|" +
          s"""["-", "$req", "$method", "$path", "HTTP/1.1", "-", "bench-agent/${r.nextInt(5)}"]"""
      }
    }
    (lines, bad)
  }

  // -- sshd auth failures -------------------------------------------------------

  private val Users = Vector("root", "admin", "oracle", "test", "ubuntu", "git", "pi")

  /** Journal lines: a skewed attacker population, planted unparseable lines. */
  def authfailLines(r: SplittableRandom, attackers: IndexedSeq[String], n: Int,
      from: Instant, to: Instant, badShare: Double,
      onAttempt: (Instant, String) => Unit): (Seq[String], Int) = {
    var bad = 0
    val lines = Seq.fill(n) {
      val ts = IsoTs.format(tsBetween(r, from, to))
      val ip = attackers(skewed(r, attackers.size))
      val head = s"$ts gw sshd[${1000 + r.nextInt(9000)}]:"
      val port = 1024 + r.nextInt(60000)
      val user = Users(r.nextInt(Users.size))
      if (r.nextDouble() < badShare) {
        bad += 1
        s"$head Connection closed by $ip port $port [preauth]"
      } else {
        onAttempt(Instant.from(IsoTs.parse(ts)), ip)
        r.nextInt(3) match {
          case 0 => s"$head Invalid user $user from $ip port $port"
          case 1 => s"$head Failed password for invalid user $user from $ip port $port ssh2"
          case _ => s"$head Failed password for $user from $ip port $port ssh2"
        }
      }
    }
    (lines, bad)
  }

  // -- mail ---------------------------------------------------------------------

  final case class Contact(name: String, email: String)
  final case class Mail(subject: String, from: Contact, recipients: Seq[Contact],
      date: Instant, bytes: Array[Byte])

  private val First = Vector("Ada", "Brook", "Cyril", "Dana", "Emil", "Fern",
    "Gale", "Hugo", "Iris", "Jules")
  private val Last = Vector("Stone", "Marsh", "Reyes", "Okafor", "Lind", "Novak")
  private val Domains = Vector("example.org", "example.net", "mail.example.com")

  /** A bounded contact population: the contacts table stops growing once
    * every member has been seen.
    */
  def contacts(r: SplittableRandom, n: Int): IndexedSeq[Contact] =
    (0 until n).map { i =>
      val f = First(i % First.size)
      val l = Last((i / First.size + r.nextInt(Last.size)) % Last.size)
      Contact(s"$f $l", s"${f.toLowerCase}.${l.toLowerCase}$i@${Domains(r.nextInt(Domains.size))}")
    }

  def mail(r: SplittableRandom, people: IndexedSeq[Contact], tag: String,
      from: Instant, to: Instant): Mail = {
    val sender = people(skewed(r, people.size))
    val to1 = Seq.fill(1 + r.nextInt(3))(people(r.nextInt(people.size)))
    val cc = if (r.nextBoolean()) Seq(people(r.nextInt(people.size))) else Seq.empty
    val date = tsBetween(r, from, to)
    def addr(c: Contact) = s"${c.name} <${c.email}>"
    val subject = s"status $tag"
    val text =
      s"From: ${addr(sender)}\n" +
        s"To: ${to1.map(addr).mkString(", ")}\n" +
        (if (cc.nonEmpty) s"CC: ${cc.map(addr).mkString(", ")}\n" else "") +
        s"Subject: $subject\n" +
        s"Date: ${MailDate.format(date)}\n" +
        s"Message-ID: <$tag@bench.example.org>\n\n" +
        s"body of $tag\n" * (1 + r.nextInt(4))
    Mail(subject, sender, to1 ++ cc, date, text.getBytes(UTF_8))
  }

  // -- dedup documents ----------------------------------------------------------

  /** Documents drawn from a pseudo-word vocabulary. */
  def doc(r: SplittableRandom, vocab: Int): String =
    Seq.fill(20 + r.nextInt(25))(s"w${skewedWord(r, vocab)}").mkString(" ")

  private def skewedWord(r: SplittableRandom, vocab: Int): Int =
    math.min(vocab - 1, (math.pow(r.nextDouble(), 1.5) * vocab).toInt)

  /** The same words in another order: the word multiset, and so the SimHash,
    * is unchanged, while the content hash is not.
    */
  def reorder(r: SplittableRandom, text: String): String = {
    val w = text.split(" ")
    var out = w
    var tries = 0
    while ((out sameElements w) && tries < 8) {
      out = w.clone()
      var i = out.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = out(i); out(i) = out(j); out(j) = t
        i -= 1
      }
      tries += 1
    }
    out.mkString(" ")
  }

  /** One word replaced: the fingerprint moves by a few bits or more. */
  def substitute(r: SplittableRandom, text: String, vocab: Int): String = {
    val w = text.split(" ")
    w(r.nextInt(w.length)) = s"x${r.nextInt(vocab)}"
    w.mkString(" ")
  }
}

/** The expected daily report, kept as plain-Scala aggregates. */
final class ReportModel(now: Instant) {
  private val windowStart = now.minusSeconds(86400)
  private val hits = mutable.Map[String, (Long, Long, Long)]()
  private val attempts = mutable.Map[String, Long]()
  private val mails = mutable.ArrayBuffer[Gen.Mail]()

  def hit(ts: Instant, h: Gen.Hit): Unit =
    if (!ts.isBefore(windowStart)) {
      val (q, i, o) = hits.getOrElse(h.reqline, (0L, 0L, 0L))
      hits(h.reqline) = (q + 1, i + h.bytesin, o + h.bytesout)
    }

  def attempt(ts: Instant, ip: String): Unit =
    if (!ts.isBefore(windowStart)) attempts(ip) = attempts.getOrElse(ip, 0L) + 1

  /** Every ingested message is listed: its row carries its ingest time. */
  def mail(m: Gen.Mail): Unit = mails += m

  def contactCount: Long =
    mails.flatMap(m => m.from +: m.recipients).distinct.size.toLong

  private def ipKey(ip: String): Long =
    ip.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toLong)

  def apacheSection: String = {
    val rows = hits.toSeq.sortBy { case (req, (q, _, _)) => (-q, req) }
      .map { case (req, (q, _, _)) => org.apache.spark.sql.Row(req, q) }
    graft.render.DailyReport.apacheSection(rows,
      hits.values.map(_._2).sum, hits.values.map(_._3).sum)
  }

  def authfailSection: String =
    graft.render.DailyReport.authfailSection(
      attempts.toSeq.sortBy { case (ip, q) => (-q, ipKey(ip)) }
        .map { case (ip, q) => org.apache.spark.sql.Row(ip, q) })

  /** Inbox blocks, sorted: the listing's order follows ingest time. */
  def inboxBlocks: Seq[String] = mails.toSeq.map { m =>
    val local = m.recipients.distinct
      .filter(c => Gen.LocalDomains.contains(c.email.substring(c.email.indexOf('@') + 1)))
      .sortBy(c => (c.name, c.email))
    s"From:    ${graft.functions.F.formatAddressScala(m.from.name, m.from.email)}\n" +
      s"To:      ${local.map(c => graft.functions.F.formatAddressScala(c.name, c.email)).mkString(", ")}\n" +
      s"Subject: ${m.subject}\n" +
      s"Date:    ${Gen.UtcIso.format(m.date)}\n" +
      s"Size:    ${m.bytes.length}\n"
  }.sorted
}

object ReportModel {
  val InboxTitle = "E-mails received in the past 24 hours:"
  val AuthTitle = "Failed SSH login attempts in the past 24 hours:"

  /** The report body with the inbox section's message blocks in sorted
    * order, so two bodies compare by their messages, not their ingest order.
    */
  def canonical(body: String): String = {
    val i = body.indexOf(InboxTitle)
    val j = body.indexOf(AuthTitle)
    if (i < 0 || j < i) body
    else {
      val section = body.substring(i + InboxTitle.length, j)
      val blocks = section.split("---\n").map(_.trim).filter(_.nonEmpty).sorted
      body.substring(0, i) + InboxTitle + blocks.mkString("\n---\n") + "\n" +
        body.substring(j)
    }
  }

  /** Whether `body` holds exactly the expected report sections. */
  def matches(body: String, m: ReportModel): Boolean = {
    val c = canonical(body)
    val expectedInbox = ReportModel.InboxTitle +
      m.inboxBlocks.map(_.trim).mkString("\n---\n") + "\n"
    c.contains(m.apacheSection) && c.contains(m.authfailSection) &&
      c.contains(expectedInbox)
  }
}
