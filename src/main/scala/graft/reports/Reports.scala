package graft.reports

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F

/** The reference's three report queries as declarative DataFrame transforms
  * (reference: `apache_access.py:52-84`, `authfail.py:30-45`, `maillog.py:106-138`).
  * `now` is injectable so the 24-hour window (`core.py:60-61`) is deterministic in
  * tests and oracle comparisons.
  *
  * Scale notes: all three are filter→(groupBy|join)→sort over a date-partitioned
  * fact table. The timestamp predicate is a pushed-down Parquet filter plus
  * partition pruning when the table is laid out by `date(timestamp)`; the
  * aggregations are two-phase hash aggregates; the dimension join is a broadcast.
  *
  * Sort shape: each result is an e-mail table the caller collects to the
  * driver, so it ends in `coalesce(1).sortWithinPartitions(keys)`, not
  * `orderBy(keys)`. Collected, that is the same total order from Spark's own
  * comparators (the INET key, UTF-8 string order, NULLs first), without the
  * range-partition exchange's sampling job and second shuffle stage. The
  * aggregates merge into that one partition after their shuffle; the inbox
  * listing, which has no shuffle of its own, scans its 24-hour window in one
  * task. The oracle's Q1–Q3 frames are registered in `SparkEntry`, not here.
  */
object Reports {

  private def window24h(df: DataFrame, now: Column): DataFrame =
    df.filter(col("timestamp") >= F.oneDayAgo(now))

  /** Q1 — apache hits-by-request (apache_access.py:59-69):
    * SELECT reqline, COUNT(*) qty, SUM(bytesin), SUM(bytesout) ... GROUP BY reqline
    * ORDER BY qty DESC, reqline ASC.
    */
  def apacheHitsByRequest(apache: DataFrame, now: Column): DataFrame =
    window24h(apache, now)
      .groupBy(col("reqline"))
      .agg(
        count(lit(1)).as("qty"),
        sum(col("bytesin")).as("sum_bytesin"),
        sum(col("bytesout")).as("sum_bytesout"))
      .coalesce(1)
      .sortWithinPartitions(col("qty").desc, col("reqline").asc)

  /** Grand totals over the same window, as one extra scan. The reference
    * accumulates these client-side while iterating the groups
    * (apache_access.py:57-73), and so does `DailyReport.build`, from the
    * collected [[apacheHitsByRequest]] rows. The pipeline benchmark's traced
    * report (`perfbench/DailyReports.tracedBuild`) still calls this.
    */
  def apacheTotals(apache: DataFrame, now: Column): DataFrame =
    window24h(apache, now)
      .agg(
        coalesce(sum(col("bytesin")), lit(0L)).as("total_bytesin"),
        coalesce(sum(col("bytesout")), lit(0L)).as("total_bytesout"))

  /** Q2 — authfail attempts-by-IP (authfail.py:34-39). PostgreSQL orders INET
    * numerically by octet, so the ASC tiebreak sorts on parsed octets, not text.
    */
  def authfailAttemptsByIp(authfail: DataFrame, now: Column): DataFrame =
    window24h(authfail, now)
      .groupBy(col("src_addr"))
      .agg(count(lit(1)).as("qty"))
      .coalesce(1)
      .sortWithinPartitions(col("qty").desc, F.ipSortKey(col("src_addr")).asc)
      .select(col("src_addr"), col("qty"))

  /** Q3 — inbox listing (maillog.py:106-138): 24 h detail scan ordered by
    * (timestamp, id); sender resolved via a broadcast equi-join on the contacts
    * dimension; recipients resolved through the tocc bridge, semi-join filtered to
    * the local-domain set, and sorted per message by (realname, email).
    */
  def inboxListing(
      inbox: DataFrame,
      contacts: DataFrame,
      tocc: DataFrame,
      localDomains: Seq[String],
      now: Column
  ): DataFrame = {
    val recent = window24h(inbox, now)
    val sender = broadcast(contacts)
      .select(col("id").as("sender_id"), col("realname").as("sender_name"),
        col("email_address").as("sender_email"))

    // recipients per message: bridge join → dim join → domain semi-filter →
    // deterministic per-message order, collected as an array (the denormalized
    // form SURVEY §1.2 recommends). Reference semantics (maillog.py:128): the
    // extracted domain keeps its case; only the local-domain set is lowercased.
    val recipients = tocc
      .join(broadcast(contacts), tocc("contact_id") === contacts("id"))
      .filter(F.domainOf(col("email_address")).isin(localDomains.map(_.toLowerCase): _*))
      .groupBy(col("msg_id"))
      .agg(array_sort(collect_list(struct(
        col("realname"), col("email_address")))).as("recips"))

    recent
      .join(sender, Seq("sender_id"), "left")
      .join(recipients, recent("id") === recipients("msg_id"), "left")
      .select(
        recent("id"), col("timestamp"), col("subject"),
        col("sender_name"), col("sender_email"),
        coalesce(col("recips"), array()).as("recipients"),
        col("size"), col("date"))
      .coalesce(1)
      .sortWithinPartitions(col("timestamp").asc, recent("id").asc)
  }
}
