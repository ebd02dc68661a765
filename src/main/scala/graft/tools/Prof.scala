package graft.tools

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.obs.JobLedger

/** Batch profiler over registered queries, all in ONE JVM and one session.
  *
  * `jobs` runs each query `reps` times through the noop sink. Per rep it
  * splits CONSTRUCTION wall (eager barrier / scalar-read jobs fired while
  * the entry function builds its DataFrame) from EXECUTION wall (the save)
  * and prints the rep's job count and summed task CPU, plus every stage
  * that ran over 500 ms of task time; then the median task CPU over reps
  * and a per-JOB breakdown of the final rep (job wall, summed task time,
  * tasks, description), so the expensive stage class is named by evidence
  * instead of guesswork. Every figure comes from [[JobLedger]].
  *
  * `plans` writes `.explain("formatted")` of each query to
  * `<outDir>/<query>_<suffix>.txt`, headed by one noop-sink rep's wall —
  * the plans/rNN evidence artifacts.
  *
  * Usage:
  * {{{
  * runMain graft.tools.Prof jobs <q1,q2,...> [sfDir] [reps]
  * runMain graft.tools.Prof plans <outDir> <suffix> <q1,q2,...> [sfDir]
  * }}}
  */
object Prof {
  private val defaultSf = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = args.toList match {
    case "jobs" :: names :: rest =>
      withSession(profile(_, split(names),
        rest.headOption.getOrElse(defaultSf), rest.lift(1).fold(3)(_.toInt)))
    case "plans" :: outDir :: suffix :: names :: rest =>
      withSession(dumpPlans(_, outDir, suffix, split(names),
        rest.headOption.getOrElse(defaultSf)))
    case _ =>
      System.err.println("usage: Prof jobs <q,...> [sfDir] [reps]\n" +
        "       Prof plans <outDir> <suffix> <q,...> [sfDir]")
      sys.exit(2)
  }

  private def split(names: String): Seq[String] =
    names.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  private def withSession(run: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark) finally spark.stop()
  }

  private def profile(spark: SparkSession, names: Seq[String], sfDir: String,
      reps: Int): Unit =
    for (name <- names) {
      println(s"==== $name ====")
      val recorded = (1 to reps).map { i =>
        val ((construct, exec), jobs) = JobLedger.record(spark) {
          val t0 = System.nanoTime()
          graft.SparkEntry.run(spark, name, sfDir) { df =>
            val t1 = System.nanoTime()
            df.write.mode("overwrite").format("noop").save()
            (t1 - t0, System.nanoTime() - t1)
          }
        }
        for (j <- jobs; s <- j.stages if s.runMs > 500L)
          println(f"[prof]   stage ${s.id}%4d task ${s.runMs / 1e3}%7.2f s " +
            f"cpu ${s.cpuNs / 1e9}%7.2f s gc ${s.gcMs / 1e3}%5.2f s " +
            f"tasks ${s.tasks}%4d  ${s.name.take(100)}")
        println(f"[prof] $name rep $i: construct ${construct / 1e9}%.2f s, " +
          f"exec ${exec / 1e9}%.2f s, total ${(construct + exec) / 1e9}%.2f s, " +
          f"${jobs.size} jobs, task cpu ${jobs.map(_.cpuNs).sum / 1e9}%.2f s")
        spark.catalog.clearCache()
        jobs
      }
      val cpu = recorded.map(_.map(_.cpuNs).sum).sorted.apply(reps / 2)
      println(f"[prof] $name median task cpu ${cpu / 1e9}%.2f s")
      val last = recorded.last
      println(f"[prof] $name last rep: ${last.size} jobs, " +
        f"sum job wall ${last.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"sum task time ${last.map(_.runMs).sum / 1e3}%.2f s")
      last.sortBy(-_.runMs).take(18).foreach { j =>
        println(f"[prof]   job ${j.id}%4d wall ${j.wallMs / 1e3}%6.2f s " +
          f"task ${j.runMs / 1e3}%7.2f s tasks ${j.tasks}%4d  " +
          j.description.take(90))
      }
    }

  private def dumpPlans(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String], sfDir: String): Unit = {
    new File(outDir).mkdirs()
    for (name <- names) {
      val plan = graft.SparkEntry.run(spark, name, sfDir)(_.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
      val t0 = System.nanoTime()
      graft.SparkEntry.run(spark, name, sfDir)(
        _.write.mode("overwrite").format("noop").save())
      val sec = (System.nanoTime() - t0) / 1e9
      val w = new PrintWriter(new File(outDir, s"${name}_$suffix.txt"))
      try {
        w.println(f"[plandump] $name $suffix: noop-sink rep $sec%.2f s (sfDir=$sfDir, local[$cpus])")
        w.println(plan)
      } finally w.close()
      println(f"[plandump] $name $suffix done ($sec%.2f s)")
    }
  }
}
