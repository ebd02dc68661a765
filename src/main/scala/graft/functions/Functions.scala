package graft.functions

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library for the engine.
  *
  * Re-expresses the reference's scalar helpers (reference: `src/logsdb/core.py:51-65`,
  * `src/logsdb/apache_access.py:146-147`, `src/logsdb/maillog.py:22-25,128`) as
  * `Column`-returning functions built from `org.apache.spark.sql.functions._` wherever the
  * builtin surface allows (codegen-friendly, no UDF), with plain Scala mirrors for
  * driver-side rendering and tests.
  */
object F {

  // --------------------------------------------------------------------------
  // P3 — mojibake repair ("reencode", reference apache_access.py:146-147).
  // Apache logs bytes as latin-1; recover the original UTF-8. UDF because the
  // charset round-trip has no builtin equivalent; null-safe; deterministic.
  // --------------------------------------------------------------------------
  def reencodeScala(s: String): String =
    if (s == null) null else new String(s.getBytes(ISO_8859_1), UTF_8)

  val reencodeUdf = udf(reencodeScala _)

  /** Codegen'd Catalyst expression (see [[graft.functions.Reencode]]); the UDF
    * variant above remains for comparison/testing.
    */
  def reencode(c: Column): Column = Reencode(c)

  /** Spark's ascending string order, for sorts on the driver: unsigned UTF-8
    * bytes, not `String`'s UTF-16 code units (they disagree past the BMP,
    * e.g. "😀" vs "Ａ"). `Ordering.Option(utf8Order)` orders a nullable
    * column: None (NULL) first, as Spark's ascending sort puts it.
    */
  val utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  // --------------------------------------------------------------------------
  // P11 — digit grouping ("longint", reference core.py:51-57): 1234567 -> "1 234 567".
  // Builtin-only: format_number gives comma groups; swap for spaces.
  // --------------------------------------------------------------------------
  def longint(c: Column): Column =
    regexp_replace(format_number(c.cast("long"), 0), ",", " ")

  /** Driver-side mirror of reference core.py:51-57 (exact). */
  def longintScala(n: Long): String = {
    val ns = n.toString
    val head = ns.length % 3
    val groups = (if (head > 0) Seq(ns.substring(0, head)) else Seq.empty) ++
      (head until ns.length by 3).map(i => ns.substring(i, i + 3))
    groups.mkString(" ")
  }

  // --------------------------------------------------------------------------
  // P9 — domain extraction (reference maillog.py:128: partition("@")[2] — the
  // substring after the FIRST '@', case preserved; only the local-domain set is
  // lowercased, at the comparison site).
  // --------------------------------------------------------------------------
  def domainOf(c: Column): Column =
    when(instr(c, "@") > 0, c.substr(instr(c, "@") + lit(1), length(c)))
      .otherwise(lit(""))

  // --------------------------------------------------------------------------
  // P12 — UTC ISO-8601 "Z" render (reference core.py:64-65, maillog.py:134).
  // Session TZ is UTC so date_format renders the UTC instant.
  // --------------------------------------------------------------------------
  def iso8601Z(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  // --------------------------------------------------------------------------
  // P8 — code-point truncation (reference maillog.py:98: subject[:2048]).
  // Spark substring counts code points, matching Python slicing for BMP text.
  // --------------------------------------------------------------------------
  def truncate(c: Column, n: Int): Column = substring(c, 1, n)

  // --------------------------------------------------------------------------
  // P10 — address display form (reference maillog.py:22-25 via
  // email.headerregistry.Address.__str__: no RFC-2047 encoding of non-ASCII;
  // display name is quoted only when it contains specials).
  // --------------------------------------------------------------------------
  // RFC 5322 specials that force display-name quoting in a phrase context
  // (matches email.headerregistry.Address.__str__: dot included, non-ASCII not).
  private val Specials = "()<>[]:;@\\,.\""

  def formatAddressScala(realname: String, email: String): String = {
    val name = Option(realname).getOrElse("")
    val addr = Option(email).getOrElse("")
    if (name.isEmpty) addr
    else {
      val disp =
        if (name.exists(Specials.contains(_)))
          "\"" + name.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        else name
      s"$disp <$addr>"
    }
  }

  val formatAddressUdf = udf(formatAddressScala _)

  /** Builtin-only variant used in oracle-checked queries (assumes atom-safe names). */
  def formatAddress(realname: Column, email: Column): Column =
    when(length(realname) === 0 || realname.isNull, email)
      .otherwise(concat(realname, lit(" <"), email, lit(">")))

  // --------------------------------------------------------------------------
  // Q2 ordering — PostgreSQL INET sorts by address family then numeric address
  // (reference core.py:14 INET column; authfail.py:38 `order_by(asc(src_addr))`).
  // sshd logs both families, so the key must order mixed IPv4/IPv6 without
  // nulling or (under ANSI mode) throwing on the non-dotted-quad form: a native
  // expression emits a binary [family ++ addressBytes] key whose unsigned
  // bytewise order IS the INET order; unparseable strings yield NULL.
  // --------------------------------------------------------------------------
  def ipSortKey(ip: Column): Column = InetSortKey(ip)

  // --------------------------------------------------------------------------
  // P13 — relative time literal (reference core.py:60-61). `now` injectable for
  // deterministic tests and oracle parity.
  // --------------------------------------------------------------------------
  def oneDayAgo(now: Column): Column = now - expr("INTERVAL 1 DAY")

  // --------------------------------------------------------------------------
  // Overflow-saturating cross-track sum — the ONE shared guarded fold for
  // per-asset aggregates over MP4 track arrays (r18 verdict item: the video
  // descriptor sums forked the semantics the m24 hardening had just fixed).
  // The walkers cap each track's counters at 2⁵³, so an accumulator past 2⁶²
  // means ≥ 512 max-cap tracks — an inventory the sum must refuse (NULL, the
  // same never-a-plausible-number contract as the walkers' refusals), not
  // wrap negative. The guard fires before any addition can exceed
  // 2⁶² + 2⁵³ < 2⁶³, so no intermediate overflows either.
  // --------------------------------------------------------------------------
  def saturatingTrackSum(tracksCol: String, field: String): Column =
    expr(s"""aggregate($tracksCol, CAST(0 AS BIGINT), (a, t) ->
        IF(a IS NULL OR a > 4611686018427387904L, CAST(NULL AS BIGINT),
           a + t.$field))""")

  // --------------------------------------------------------------------------
  // d36's LAYOUT-FREE video descriptor text — the ONE derivation shared by
  // the batch near-dup (d36), the composed corpora (e05/e09), and the
  // incremental/learning gates (d37/d38): each decoded MP4 track becomes one
  // token of its content identity under re-muxing (handler, timescale,
  // sample_count, duration_ms, total_bytes, avg_sample_bytes — trak_idx and
  // chunk_count, the two packaging columns, excluded), sorted and
  // space-joined so set-equal inventories are text-equal.
  // --------------------------------------------------------------------------
  def videoDescriptorText(tracksCol: String): Column =
    expr(s"""array_join(array_sort(transform($tracksCol, t ->
        concat_ws(':', t.handler, t.timescale, t.sample_count,
                  t.duration_ms, t.total_bytes, t.avg_sample_bytes))),
      ' ')""")

  // --------------------------------------------------------------------------
  // d40's transport-stream analogue (r19): each declared elementary stream
  // becomes one token of its content identity under TS re-muxing
  // (stream_type, pes_count, payload_bytes, duration_ms, avg_pes_bytes —
  // `pid`, the packaging column a re-muxer renumbers, excluded), sorted and
  // space-joined so set-equal program inventories are text-equal.
  // --------------------------------------------------------------------------
  def tsDescriptorText(streamsCol: String): Column =
    expr(s"""array_join(array_sort(transform($streamsCol, s ->
        concat_ws(':', s.stream_type, s.pes_count, s.payload_bytes,
                  s.duration_ms, s.avg_pes_bytes))),
      ' ')""")
}
