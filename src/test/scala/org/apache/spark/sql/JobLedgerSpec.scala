package org.apache.spark.sql

import graft.GraftSpec
import graft.obs.JobLedger

/** [[JobLedger.record]]: what one scoped recording holds, and that it
  * leaves no listener behind. In this package so the test can read the
  * `private[spark]` listener bus.
  */
class JobLedgerSpec extends GraftSpec {

  private def ledgers = spark.sparkContext.listenerBus
    .findListenersByClass[JobLedger]()

  test("a described two-stage shuffle job comes back with its description, " +
      "stages, task counts and shuffle bytes") {
    val sc = spark.sparkContext
    val (sum, jobs) = JobLedger.record(spark) {
      sc.setJobDescription("ledger-spec/shuffle")
      try sc.parallelize(1 to 100, 3).map(i => (i % 7, i.toLong))
        .reduceByKey(_ + _, 2).values.collect().sum
      finally sc.setJobDescription(null)
    }
    assert(sum === 5050L)
    assert(jobs.map(_.description) === Seq("ledger-spec/shuffle"))
    val Seq(job) = jobs
    assert(job.stages.map(_.tasks).sorted === Seq(2, 3))
    assert(job.tasks === 5)
    assert(job.stages.map(_.shuffleWriteBytes).sum > 0L)
    assert(job.stages.map(_.shuffleReadBytes).sum > 0L)
    assert(job.ended >= job.submitted && job.submitted > 0L)
  }

  test("a job run after record returns is not in its result") {
    val sc = spark.sparkContext
    val (_, jobs) = JobLedger.record(spark)(sc.parallelize(1 to 10, 2).count())
    sc.parallelize(1 to 10, 2).count()
    GraftBridge.drain(spark)
    assert(jobs.size === 1)
    assert(ledgers.isEmpty)
  }

  test("a body that throws rethrows and leaves no JobLedger on the listener bus") {
    val e = intercept[IllegalStateException](JobLedger.record(spark) {
      assert(ledgers.size === 1)
      spark.sparkContext.parallelize(1 to 10, 2).count()
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage === "body failed")
    assert(ledgers.isEmpty)
  }

  test("every job of a registered query run through SparkEntry.run is " +
      "described graft:query/<id>, and the caller's description comes back") {
    import spark.implicits._
    val sf = tempDir("ledger-sf")
    Seq(("view", 1.5, java.sql.Timestamp.valueOf("2026-08-11 04:00:00")),
      ("click", 2.25, java.sql.Timestamp.valueOf("2026-08-11 05:00:00")))
      .toDF("event_type", "value", "ts").write.parquet(s"$sf/events.parquet")
    val sc = spark.sparkContext
    sc.setJobDescription("ledger-spec/outer")
    val ((rows, jobs), after) =
      try (JobLedger.record(spark)(graft.SparkEntry.run(spark,
        "q01_hits_by_type", sf.toString)(_.collect())),
        sc.getLocalProperty("spark.job.description"))
      finally sc.setJobDescription(null)
    assert(after === "ledger-spec/outer")
    assert(rows.length === 2)
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.description == "graft:query/q01_hits_by_type"),
      jobs.map(_.description).mkString("\n"))
  }
}
