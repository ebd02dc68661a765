package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Typed data model for the four stored tables (reference: `src/logsdb/core.py:11-18`
  * type vocabulary; tables at `apache_access.py:24-42`, `authfail.py:14-20`,
  * `maillog.py:14-59`). The `StructType`s are the storage schemas: the data
  * columns in the order the engine writes them, which [[graft.ingest.Warehouse]]
  * reads pinned. The fact tables store the parser records
  * ([[ParsedApache]], [[ParsedAuthfail]]) without a surrogate id.
  */
final case class Contact(id: Long, realname: String, email_address: String)

/** Inbox row. `tocc` is the idiomatic-Spark denormalization of the reference's
  * `inbox_tocc` bridge table (maillog.py:28-44) — the only consumer re-joins the
  * recipients per message anyway (maillog.py:128). The normalized bridge is also
  * materialized by the ingest path for relational parity.
  */
final case class InboxMessage(
    id: Long,
    timestamp: Timestamp,
    subject: String,
    sender_id: Long,
    size: Long,
    date: Timestamp
)

final case class InboxToCc(msg_id: Long, contact_id: Long)

/** Dead-letter record (reference apache_access.py:128-143 / authfail.py:82-97:
  * `{time, line, traceback, error_type, error}` JSON on stderr).
  */
final case class DeadLetter(time: String, line: String, error_type: String, error: String)

object Schemas {
  val apacheAccess: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("host", StringType),
    StructField("port", IntegerType),
    StructField("src_addr", StringType),
    StructField("authuser", StringType),
    StructField("bytesin", LongType),
    StructField("bytesout", LongType),
    StructField("microsecs", LongType),
    StructField("status", IntegerType),
    StructField("reqline", StringType),
    StructField("method", StringType),
    StructField("path", StringType),
    StructField("protocol", StringType),
    StructField("referer", StringType),
    StructField("user_agent", StringType)
  ))

  val authfail: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("username", StringType),
    StructField("src_addr", StringType)
  ))

  val contacts: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("realname", StringType),
    StructField("email_address", StringType)
  ))

  val inbox: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("timestamp", TimestampType),
    StructField("subject", StringType),
    StructField("sender_id", LongType),
    StructField("size", LongType),
    StructField("date", TimestampType)
  ))

  val inboxTocc: StructType = StructType(Seq(
    StructField("msg_id", LongType, nullable = false),
    StructField("contact_id", LongType, nullable = false)
  ))

  val deadLetter: StructType = StructType(Seq(
    StructField("time", StringType),
    StructField("line", StringType),
    StructField("error_type", StringType),
    StructField("error", StringType)
  ))
}
