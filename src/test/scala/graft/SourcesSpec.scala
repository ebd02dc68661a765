package graft

import java.nio.file.Files

import graft.sources.HostSources

/** Host/system sources (reference §2.1 S6/S7). */
class SourcesSpec extends GraftSpec {

  test("vnstat JSON navigation (S6, dailyreport.py:92-99)") {
    val json =
      """{"interfaces": [{"traffic": {"day": [{"tx": 123456789, "rx": 987654321}]}}]}"""
    assert(HostSources.vnstatTxRx(spark, json) === ((123456789L, 987654321L)))
  }

  test("nonEmptyFiles lists only files with bytes (S7, dailyreport.py:17-26)") {
    val dir = tempDir("errlogs")
    Files.writeString(dir.resolve("a.err"), "boom")
    Files.writeString(dir.resolve("empty.err"), "")
    Files.writeString(dir.resolve("b.err"), "x")
    val rows = HostSources.nonEmptyFiles(spark, dir.toString).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a.err", "b.err"))
  }
}
