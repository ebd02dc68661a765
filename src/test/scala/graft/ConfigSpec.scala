package graft

import graft.model.Config

/** Config loading (reference config.py:9-40: TOML → pydantic, extra="forbid"). */
class ConfigSpec extends GraftSpec {

  private val good = Seq(
    "[database]",
    "database = \"logsdb\"",
    "username = \"logsdb\"",
    "password = \"secret\"",
    "",
    "[features]",
    "apache_access = true",
    "authfail = true",
    "maillog = false",
    "",
    "[dailyreport]",
    "recipient = \"admin@mydomain.example\"",
    "mailbox = \"/var/mail/root\"",
    "logs_dir = \"/var/log/logsdb-errors\""
  )

  test("parses the reference config shape") {
    val cfg = Config.fromToml(good)
    assert(cfg.database.database === "logsdb")
    assert(cfg.features.apache_access)
    assert(cfg.features.authfail)
    assert(!cfg.features.maillog)
    assert(cfg.dailyreport.recipient === "admin@mydomain.example")
    assert(cfg.warehousePath === "logsdb")
  }

  test("features default to false when omitted (config.py:19-22)") {
    val cfg = Config.fromToml(good.filterNot(_.startsWith("apache_access")))
    assert(!cfg.features.apache_access)
  }

  test("unknown keys are rejected (extra=forbid, config.py:10)") {
    intercept[IllegalArgumentException] {
      Config.fromToml(good :+ "bogus = \"x\"")
    }
    intercept[IllegalArgumentException] {
      Config.fromToml("[nonsense]" +: good)
    }
  }

  test("missing required keys are rejected") {
    intercept[IllegalArgumentException] {
      Config.fromToml(good.filterNot(_.startsWith("password")))
    }
  }
}

/** The bench's override-streak guard (r12 verdict item 5), unit-tested on
  * its pure/persistence pieces: consecutive overrides accumulate, any
  * non-overridden capture resets, the flag fires at 3, registry changes
  * drop stale entries, and every I/O failure degrades to an empty
  * history rather than a capture crash.
  */
class OverrideHistorySpec extends GraftSpec {

  test("streaks accumulate on consecutive overrides, reset on a clean capture, flag at 3") {
    val measured = Seq("q1", "q2", "q3")
    val (s1, f1) = OverrideHistory.advance(Map.empty, measured, Set("q1", "q2"))
    assert(s1 === Map("q1" -> 1, "q2" -> 1, "q3" -> 0) && f1.isEmpty)
    val (s2, f2) = OverrideHistory.advance(s1, measured, Set("q1", "q2"))
    assert(s2("q1") === 2 && f2.isEmpty)
    // q2 measured clean this capture -> resets; q1 hits 3 -> flagged
    val (s3, f3) = OverrideHistory.advance(s2, measured, Set("q1"))
    assert(s3 === Map("q1" -> 3, "q2" -> 0, "q3" -> 0) && f3 === Seq("q1"))
    // still overridden -> stays flagged (4), no double-count of others
    val (s4, f4) = OverrideHistory.advance(s3, measured, Set("q1"))
    assert(s4("q1") === 4 && f4 === Seq("q1"))
  }

  test("probe captures (SPARK_GRAFT_BENCH_PROBE) must not advance the streak state") {
    // the streak is defined over consecutive OFFICIALS; the official is
    // driver-invoked with a bare environment, so the gate is opt-out
    assert(OverrideHistory.shouldAdvance(Map.empty))
    assert(OverrideHistory.shouldAdvance(
      Map("SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.1")))
    assert(!OverrideHistory.shouldAdvance(Map("SPARK_GRAFT_BENCH_PROBE" -> "1")))
    assert(!OverrideHistory.shouldAdvance(Map("SPARK_GRAFT_BENCH_PROBE" -> "")),
      "any value marks a probe — presence, not truthiness")
  }

  test("a query absent from the capture keeps no entry (registry change drops stale history)") {
    val (s, f) = OverrideHistory.advance(Map("gone" -> 2, "q1" -> 1),
      Seq("q1"), Set("q1"))
    assert(s === Map("q1" -> 2) && f.isEmpty)
    assert(!s.contains("gone"))
  }

  test("round-trips through the history file; zero streaks are dropped; torn/missing files read empty") {
    val dir = tempDir("graft_ohist")
    val p = dir.resolve("sub").resolve("override_history.json")
    assert(OverrideHistory.read(p) === Map.empty, "missing file reads empty")
    OverrideHistory.write(p, Map("a" -> 2, "b" -> 0, "c" -> 1))
    assert(java.nio.file.Files.readString(p).startsWith("{\"a\":2"))
    assert(OverrideHistory.read(p) === Map("a" -> 2, "c" -> 1),
      "zero entries carry no information")
    java.nio.file.Files.writeString(p, "{\"a\":2,\"c\"")
    assert(OverrideHistory.read(p) === Map("a" -> 2),
      "a torn file yields its intact prefix, never a crash")
    java.nio.file.Files.writeString(p, "not json at all")
    assert(OverrideHistory.read(p) === Map.empty)
  }
}
