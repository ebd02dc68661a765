package graft.parse

import java.nio.charset.{Charset, StandardCharsets}
import java.time.ZonedDateTime
import java.time.format.DateTimeFormatter
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Minimal RFC-5322 message parser (reference: `src/logsdb/maillog.py:141-156` —
  * `email.message_from_bytes(policy=default)`; Subject defaulting to "NO SUBJECT"
  * at maillog.py:153; From/To/CC address lists; Date header; size = raw byte count
  * at maillog.py:143-144).
  *
  * Implemented as a pure-Scala header parser (header unfolding, RFC-2047
  * encoded-word decoding, address-list splitting) wrapped in a UDF over a binary
  * column, so a directory of raw messages ingests as
  * `spark.read.format("binaryFile")` → one struct per message. The reference
  * handles one message per process (maillog.py:141); the Spark path is the same
  * parse applied per row of a distributed binary scan.
  */
object MailParser {

  final case class Address(realname: String, email: String)
  final case class ParsedMail(
      subject: String,
      sender_name: String,
      sender_email: String,
      date: java.sql.Timestamp,
      recipients: Seq[Address],
      size: Long
  )

  // -- header extraction ------------------------------------------------------

  /** Unfold continuation lines and return ordered (name, value) pairs. */
  def headers(raw: String): Seq[(String, String)] = {
    val headerPart = raw.split("\r?\n\r?\n", 2)(0)
    val lines = headerPart.split("\r?\n")
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    lines.foreach { line =>
      if ((line.startsWith(" ") || line.startsWith("\t")) && out.nonEmpty) {
        val (n, v) = out.last
        out(out.length - 1) = (n, v + " " + line.trim)
      } else line.split(":", 2) match {
        case Array(n, v) => out += ((n.trim, v.trim))
        case _           => ()
      }
    }
    out.toSeq
  }

  def header(raw: String, name: String): Option[String] =
    headers(raw).collectFirst { case (n, v) if n.equalsIgnoreCase(name) => v }

  // -- RFC 2047 encoded words -------------------------------------------------

  private val EncodedWord = """=\?([^?]+)\?([bBqQ])\?([^?]*)\?=""".r

  def decodeRfc2047(s: String): String = {
    // adjacent encoded words are concatenated without the intervening whitespace
    val collapsed = s.replaceAll("(\\?=)\\s+(=\\?)", "$1$2")
    EncodedWord.replaceAllIn(collapsed, m => {
      val cs = try Charset.forName(m.group(1)) catch {
        case _: Exception => StandardCharsets.UTF_8
      }
      val payload = m.group(3)
      val bytes = m.group(2).toLowerCase match {
        case "b" => Base64.getMimeDecoder.decode(payload)
        case _ =>
          val sb = scala.collection.mutable.ArrayBuffer[Byte]()
          var i = 0
          while (i < payload.length) {
            payload.charAt(i) match {
              case '_' => sb += ' '.toByte; i += 1
              case '=' if i + 3 <= payload.length =>
                try {
                  sb += Integer.parseInt(payload.substring(i + 1, i + 3), 16).toByte
                  i += 3
                } catch { case _: Exception => sb += '='.toByte; i += 1 }
              case c => sb += c.toByte; i += 1
            }
          }
          sb.toArray
      }
      java.util.regex.Matcher.quoteReplacement(new String(bytes, cs))
    })
  }

  // -- address lists ----------------------------------------------------------

  /** Parse a full RFC 5322 address-list, including group syntax
    * (`Team: a@x.example, B <b@y.example>;` and the empty
    * `undisclosed-recipients:;`), into flattened member addresses — the same
    * view `email.policy.default`'s `AddressHeader.addresses` gives the
    * reference (maillog.py:148-151): group display names are dropped, members
    * surface as plain addresses. Quotes and angle brackets protect `:,;`.
    */
  def parseAddressList(v: String): Seq[Address] = {
    // RFC 5322 group syntax always terminates with ';' — a top-level ':'
    // with no ';' anywhere after it is NOT a group start (e.g. a colon in an
    // RFC-2047 display word), so treat it literally. '[' ']' protect
    // domain-literal colons (user@[IPv6:2001:db8::1]).
    val canBeGroup = Array.tabulate(v.length) { i => v.indexOf(';', i) >= 0 }
    val out = scala.collection.mutable.ArrayBuffer[Address]()
    val cur = new StringBuilder
    var inQuote = false
    var depth = 0
    var inGroup = false
    var idx = -1
    def flush(): Unit = {
      val s = cur.toString.trim
      if (s.nonEmpty) out += parseAddress(s)
      cur.clear()
    }
    v.foreach { c =>
      idx += 1
      c match {
        case '"' => inQuote = !inQuote; cur += '"'
        case '<' | '[' if !inQuote => depth += 1; cur += c
        case '>' | ']' if !inQuote => depth -= 1; cur += c
        case ':' if !inQuote && depth == 0 && !inGroup && canBeGroup(idx) =>
          inGroup = true; cur.clear() // group display name — dropped on flatten
        case ';' if !inQuote && depth == 0 && inGroup =>
          flush(); inGroup = false
        case ',' if !inQuote && depth == 0 => flush()
        case _ => cur += c
      }
    }
    flush()
    out.toSeq
  }

  private val AngleAddr = """(.*?)<([^<>]*)>\s*""".r

  def parseAddress(s: String): Address = {
    decodeRfc2047(s.trim) match {
      case AngleAddr(disp, addr) =>
        val name = disp.trim match {
          case q if q.startsWith("\"") && q.endsWith("\"") && q.length >= 2 =>
            q.substring(1, q.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
          case other => other
        }
        Address(name, addr.trim)
      case bare => Address("", bare.trim)
    }
  }

  // -- Date header ------------------------------------------------------------

  private val Rfc1123Lenient = DateTimeFormatter.ofPattern("[EEE, ]d MMM yyyy HH:mm[:ss] Z")

  def parseDate(s: String): Option[java.sql.Timestamp] = {
    val cleaned = s.trim.replaceAll("\\s+", " ").replaceAll("\\([^)]*\\)\\s*$", "").trim
    val attempts = Seq(DateTimeFormatter.RFC_1123_DATE_TIME, Rfc1123Lenient)
    attempts.view.flatMap { fmt =>
      try Some(java.sql.Timestamp.from(ZonedDateTime.parse(cleaned, fmt).toInstant))
      catch { case _: Exception => None }
    }.headOption
  }

  // -- whole message ----------------------------------------------------------

  /** Strict reference parity: `process_input` (maillog.py:142-164) catches
    * EVERY exception and error-exits WITHOUT ingesting, so a message the
    * reference would raise on must dead-letter here, never be ingested with a
    * synthesized field. Left carries the Python exception type the reference
    * would hit:
    *  - absent `From` → `msg["From"].addresses` on None → `AttributeError`;
    *  - `From` present but zero addresses (e.g. an empty group) →
    *    `.addresses[0]` → `IndexError`;
    *  - absent `Date` → `msg["Date"].datetime` on None → `AttributeError`;
    *  - unparseable `Date` → `.datetime` is None → non-nullable `inbox.date`
    *    column (maillog.py:59) → `IntegrityError` at insert.
    * (No `Sender:` fallback: the reference reads only `From`, so a
    * From-less message with a Sender header is an error there too.)
    */
  def parseMessage(bytes: Array[Byte]): Either[String, ParsedMail] = {
    val raw = new String(bytes, StandardCharsets.UTF_8)
    val subject = header(raw, "Subject").map(decodeRfc2047).getOrElse("NO SUBJECT")
    for {
      fromV <- header(raw, "From").toRight("AttributeError")
      from <- parseAddressList(fromV).headOption.toRight("IndexError")
      dateV <- header(raw, "Date").toRight("AttributeError")
      date <- parseDate(dateV).toRight("IntegrityError")
    } yield {
      // To + CC concatenated in order (maillog.py:148-151), groups flattened
      val recips = Seq("To", "CC").flatMap(h => header(raw, h).toSeq)
        .flatMap(parseAddressList)
      ParsedMail(subject, from.realname, from.email, date, recips,
        bytes.length.toLong)
    }
  }

  private val parseUdf = udf((bytes: Array[Byte]) =>
    parseMessage(bytes) match {
      case Right(p) =>
        (p.subject, p.sender_name, p.sender_email, p.date,
          p.recipients.map(a => (a.realname, a.email)), p.size, null: String)
      case Left(err) =>
        (null: String, null: String, null: String, null: java.sql.Timestamp,
          null: Seq[(String, String)], 0L, err)
    })

  /** `messages` must have a binary column `content` (e.g. from
    * `spark.read.format("binaryFile")`). Event columns: subject, sender_name,
    * sender_email, date, recipients array<struct<_1,_2>>, size — plus any
    * non-content input columns (path, modificationTime, …) for provenance.
    * Messages the reference would raise on (see [[parseMessage]]) surface on
    * the dead-letter side with its error-record shape.
    */
  def parse(messages: DataFrame): ParseResult = fromRaw(parseRaw(messages))

  /** The one-UDF-evaluation frame: input columns plus the `parsed` struct
    * (`_1`..`_6` the event fields in [[fromRaw]]'s order, `_7` the error
    * type, NULL for a message that parsed). The Staged fence stops the
    * optimizer re-deriving the UDF per filter conjunct WITHIN a plan, but
    * [[fromRaw]]'s two branches are two plans, so a caller that writes both
    * parses every message twice. The streaming mail ingest instead collects
    * one projection of this frame and splits it on the driver.
    */
  def parseRaw(messages: DataFrame): DataFrame =
    messages.withColumn("parsed",
      graft.functions.Staged(parseUdf(col("content"))))

  /** Split a [[parseRaw]] frame into events + reference-shaped dead letters. */
  def fromRaw(withParsed: DataFrame): ParseResult = {
    val keep = withParsed.columns
      .filterNot(c => c == "content" || c == "parsed").toIndexedSeq.map(col)
    val mails = withParsed
      .filter(col("parsed._7").isNull)
      .select(keep ++ Seq(
        col("parsed._1").as("subject"),
        col("parsed._2").as("sender_name"),
        col("parsed._3").as("sender_email"),
        col("parsed._4").as("date"),
        col("parsed._5").as("recipients"),
        col("parsed._6").as("size")): _*)
    val dead = withParsed
      .filter(col("parsed._7").isNotNull)
      .select(deadLine.as("line"), col("parsed._7").as("error_type"))
    ParseResult(mails, deadLetters(dead))
  }

  /** A dead letter's `line`: the leading bytes of the message's `content`,
    * as the description the reference's TODO asks for.
    */
  val deadLine: Column = substring(col("content").cast("string"), 1, 120)

  /** Dead-letter rows (schema `graft.model.Schemas.deadLetter`) from
    * (line, error_type) rows; "Error processing e-mail" is the reference's
    * message (maillog.py:162).
    */
  def deadLetters(lines: DataFrame): DataFrame =
    lines.select(
      graft.functions.F.iso8601Z(current_timestamp()).as("time"),
      col("line"), col("error_type"),
      lit("Error processing e-mail").as("error"))
}
