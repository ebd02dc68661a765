package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Batch profiler (round-20 measurement harness, guide §1): run several
  * queries in ONE JVM, per rep splitting CONSTRUCTION wall (eager barrier /
  * scalar-read jobs fired while the entry function builds its DataFrame)
  * from EXECUTION wall (the noop-sink save) with the rep's job count and
  * summed task CPU (median over reps last), and printing a per-JOB
  * breakdown of the final rep from a SparkListener — job wall, summed task
  * time, and the job group/description — so the expensive stage class is
  * named by evidence instead of guesswork.
  *
  * Usage: runMain graft.tools.Prof <q1,q2,...> [sfDir] [reps]
  */
object Prof {
  final case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
      var taskTimeMs: Long = 0L, var cpuMs: Long = 0L, var tasks: Int = 0,
      var desc: String = "")

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("PROF_PAR_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("PROF_ADVISORY", "64m"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    // written by the main thread, read by the listener-bus thread
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val r = JobRec(e.jobId, start = e.time)
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized { jobs(e.jobId) = r }
        e.stageIds.foreach(s => stageToJob.synchronized { stageToJob(s) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
        val j = stageToJob.synchronized { stageToJob.get(e.stageId) }
        j.foreach { id =>
          jobs.synchronized {
            jobs.get(id).foreach { r =>
              r.tasks += 1
              if (e.taskMetrics != null) {
                r.taskTimeMs += e.taskMetrics.executorRunTime
                r.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
              }
            }
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording) {
          val i = e.stageInfo
          val t = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          val gc = Option(i.taskMetrics).map(_.jvmGCTime).getOrElse(0L)
          val cpu = Option(i.taskMetrics).map(_.executorCpuTime / 1000000L)
            .getOrElse(0L)
          if (t > 500L)
            println(f"[prof]   stage ${i.stageId}%4d task ${t / 1e3}%7.2f s " +
              f"cpu ${cpu / 1e3}%7.2f s gc ${gc / 1e3}%5.2f s " +
              f"tasks ${i.numTasks}%4d  ${i.name.take(100)}")
        }
    })

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      println(s"==== $name ====")
      val cpus = (1 to reps).map { i =>
        // drain first: events of earlier reps still queued on the bus must
        // not land in the cleared maps once recording is on
        org.apache.spark.sql.GraftBridge.drain(spark)
        jobs.clear(); stageToJob.clear(); recording = true
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        org.apache.spark.sql.GraftBridge.drain(spark); recording = false
        val cpu = jobs.values.map(_.cpuMs).sum
        println(f"[prof] $name rep $i: construct ${(t1 - t0) / 1e9}%.2f s, " +
          f"exec ${(t2 - t1) / 1e9}%.2f s, total ${(t2 - t0) / 1e9}%.2f s, " +
          f"${jobs.size} jobs, task cpu ${cpu / 1e3}%.2f s")
        spark.catalog.clearCache()
        cpu
      }
      println(f"[prof] $name median task cpu ${cpus.sorted.apply(reps / 2) / 1e3}%.2f s")
      val rows = jobs.values.toSeq.sortBy(-_.taskTimeMs)
      val totWall = jobs.values.map(r => (r.end - r.start).max(0L)).sum
      val totTask = jobs.values.map(_.taskTimeMs).sum
      println(f"[prof] $name last rep: ${jobs.size} jobs, " +
        f"sum job wall ${totWall / 1e3}%.2f s, sum task time ${totTask / 1e3}%.2f s")
      rows.take(18).foreach { r =>
        println(f"[prof]   job ${r.id}%4d wall ${(r.end - r.start).max(0L) / 1e3}%6.2f s " +
          f"task ${r.taskTimeMs / 1e3}%7.2f s tasks ${r.tasks}%4d  ${r.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
