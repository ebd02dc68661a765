package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.Sessionize
import graft.streaming.Sessionize.SessEvent

/** Cross-checks the three sessionizers (window-function batch, built-in
  * session_window, custom flatMapGroupsWithState) and exercises state carried
  * across micro-batches.
  */
class SessionizeSpec extends GraftSpec {
  import spark.implicits._

  test("session_window aggregation agrees with the window-function sessionizer") {
    val sfDir = "/root/testdata/sf0.001"
    val viaWindowFn = graft.EntryOps.sessionize(spark, sfDir)
      .select("user_id", "n_events", "start_us", "duration_sec")
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaSessionWindow = Sessionize.sessionWindowAgg(
        Tables.events(spark, sfDir), "30 minutes")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaSessionWindow === viaWindowFn)
    assert(viaWindowFn.nonEmpty)
  }

  test("stateful sessionizer closes on gap and flushes trailing sessions (batch)") {
    val events = Seq(
      SessEvent(1, 1, 0L),
      SessEvent(1, 2, 60L * 1000000),            // +1 min, same session
      SessEvent(1, 3, 45L * 60 * 1000000),       // +45 min gap -> closes s1
      SessEvent(2, 4, 0L)                        // other user, one-event session
    ).toDS()
    val closed = Sessionize.statefulSessions(events).collect()
    // batch = end-of-input: BOTH gap-closed and trailing-open sessions emitted
    assert(closed.toSet === Set(
      Sessionize.ClosedSession(1, 1, 2, 0L, 60L),
      Sessionize.ClosedSession(1, 2, 1, 45L * 60 * 1000000, 0L),
      Sessionize.ClosedSession(2, 1, 1, 0L, 0L)))
  }

  test("stateful sessionizer equals the window-function sessionizer (batch, sf0.001)") {
    val sfDir = "/root/testdata/sf0.001"
    val expected = graft.EntryOps.sessionize(spark, sfDir)
      .select("user_id", "session_num", "n_events", "start_us", "duration_sec")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessEvent]
    val actual = Sessionize.statefulSessions(events)
      .select("user_id", "session_num", "n_events", "start_us", "duration_sec")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(actual === expected)
    assert(expected.nonEmpty)
  }

  test("stateful sessionizer emits a quiesced session on event-time timeout") {
    val in = tempDir("sess-to-in")
    // batch 1: two events for user 9 (session 1); batch 2: a much-later event
    // for a DIFFERENT user advances the watermark past user 9's last_us + gap;
    // batch 3 (another user-8 event) then runs with that watermark, so user 9's
    // open session is emitted by the timeout sweep — not by a subsequent event
    // for its own key and not by end-of-input
    // ts >= 1 h, not 0: rows with event_time <= the (initially epoch-0)
    // watermark are dropped as late
    Files.writeString(in.resolve("b1.csv"), "9,1,3600000000\n9,2,3660000000\n")
    Files.writeString(in.resolve("b2.csv"), "8,3,90000000000\n")
    Files.writeString(in.resolve("b3.csv"), "8,4,90060000000\n")
    // batches 4/5: user 9 returns AFTER its timeout flush — the numbering
    // sentinel must continue at session_num 2 (batch-sessionizer parity);
    // the 5th batch's far-later event closes session 2 via the gap rule
    Files.writeString(in.resolve("b4.csv"), "9,5,90120000000\n")
    Files.writeString(in.resolve("b5.csv"), "9,6,95000000000\n")
    val nowMs = System.currentTimeMillis()
    Seq("b1.csv" -> 120000L, "b2.csv" -> 90000L, "b3.csv" -> 60000L,
      "b4.csv" -> 30000L).foreach { case (f, back) =>
      Files.setLastModifiedTime(in.resolve(f),
        java.nio.file.attribute.FileTime.fromMillis(nowMs - back))
    }
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .csv(in.toString)
      .as[SessEvent]
    val q = Sessionize.statefulSessions(stream)
      .writeStream
      .option("checkpointLocation", tempDir("sess-to-ck").toString)
      .outputMode("append")
      .format("memory")
      .queryName("sessions_timeout_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("sessions_timeout_out")
      .as[Sessionize.ClosedSession].collect().toSet
    // session 1 closed by timeout; session 2 (opened from the numbering
    // sentinel AFTER the flush) closed by the gap rule; user 8's session
    // closed by the final timeout sweep (the last batch pushes the watermark
    // past its last_us + gap); user 9's trailing session 3 stays open — its
    // timeout (95000 s + gap) is beyond the final watermark
    assert(rows === Set(
      Sessionize.ClosedSession(9, 1, 2, 3600000000L, 60L),
      Sessionize.ClosedSession(9, 2, 1, 90120000000L, 0L),
      Sessionize.ClosedSession(8, 1, 2, 90000000000L, 60L)))
  }

  test("stateful sessionizer carries open sessions across micro-batches") {
    val in = tempDir("sess-in")
    // batch 1: open a session for user 7; batch 2: an event past the gap
    // closes it — emitted in the SECOND micro-batch via persisted GroupState
    // events sit at ts >= 1 h, not 0: the watermark late-filter drops rows with
    // event_time <= current watermark, and the initial watermark is epoch 0
    Files.writeString(in.resolve("b1.csv"), "7,1,3600000000\n7,2,3720000000\n")
    Files.writeString(in.resolve("b2.csv"), "7,3,12600000000\n")
    // the file source orders by modification time — make b1 strictly older
    Files.setLastModifiedTime(in.resolve("b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .csv(in.toString)
      .as[SessEvent]
    val q = Sessionize.statefulSessions(stream)
      .writeStream
      .option("checkpointLocation", tempDir("sess-ck").toString)
      .outputMode("append")
      .format("memory")
      .queryName("sessions_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("sessions_out")
      .as[Sessionize.ClosedSession].collect().toSeq
    assert(rows === Seq(Sessionize.ClosedSession(7, 1, 2, 3600000000L, 120L)))
  }
}
