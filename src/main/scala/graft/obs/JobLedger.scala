package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The Spark jobs one block of code starts, with their completed stages:
  * the one job listener behind the profiler and the job-budget tests.
  *
  * A stage's figures are its attempt's summed task metrics, read once when
  * the stage completes; no per-task event is handled. A stage belongs to
  * the first recorded job that lists it.
  */
final class JobLedger private () extends SparkListener {
  import JobLedger._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val description = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobDescription)))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, description, e.time, 0L, Vector.empty)
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(ended = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).flatMap(jobs.get).foreach { j =>
        val stage = Option(i.taskMetrics).fold(
          Stage(i.stageId, i.name, i.numTasks, 0L, 0L, 0L, 0L, 0L)) { m =>
          Stage(i.stageId, i.name, i.numTasks, m.executorRunTime,
            m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
        jobs(j.id) = j.copy(stages = j.stages :+ stage)
      }
    }

  private def recorded: Seq[Job] = synchronized(jobs.values.toVector)
}

object JobLedger {

  private val JobDescription = "spark.job.description"

  /** One completed stage attempt; times in milliseconds, CPU in nanoseconds. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** One job: `description` is its `spark.job.description` ("" if unset);
    * `submitted` and `ended` are epoch milliseconds, `ended` 0 if the job
    * had not ended when recording stopped.
    */
  final case class Job(id: Int, description: String, submitted: Long,
      ended: Long, stages: Seq[Stage]) {
    def wallMs: Long = (ended - submitted).max(0L)
    def runMs: Long = stages.map(_.runMs).sum
    def cpuNs: Long = stages.map(_.cpuNs).sum
    def tasks: Int = stages.map(_.tasks).sum
  }

  /** Runs `body` and returns its result with every job it started, in
    * start order. The listener bus is drained on both sides, so no earlier
    * job leaks in and none is missed; the listener is removed even when
    * `body` throws.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val ledger = new JobLedger
    GraftBridge.drain(spark)
    sc.addSparkListener(ledger)
    val result =
      try body
      finally try GraftBridge.drain(spark) finally sc.removeSparkListener(ledger)
    (result, ledger.recorded)
  }

  /** Runs `body` with every Spark job it starts on this thread described as
    * `description`, then restores the caller's description (inside
    * `foreachBatch`, the stream's own).
    */
  def described[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(JobDescription, outer)
  }
}
