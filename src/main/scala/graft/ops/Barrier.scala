package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Materialization barrier for iterative and composed plans (r9 verdict
  * item 3): truncate lineage so (a) multi-action loops (connected
  * components) stop re-analyzing an ever-growing logical tree, and (b) a
  * presentation sort's range-partitioning SAMPLING pass cannot re-execute
  * an expensive decode/join subtree.
  *
  * Two modes, bit-identical results (OpsSpec proves it):
  *
  *  - **local** (default): `localCheckpoint()` — blocks live in executor
  *    storage, zero external writes. The right call at local[32] and for
  *    bench runs, but blocks are LOST ON EXECUTOR DEATH: on a real cluster
  *    a failed executor aborts the job instead of recomputing (lineage is
  *    gone). Fail-fast, not silent corruption — but not resilient.
  *  - **reliable**: `checkpoint()` — blocks persist to the
  *    `SparkContext.setCheckpointDir` filesystem (HDFS/object store on a
  *    cluster), so executor loss recovers by re-reading the checkpoint.
  *    Costs one distributed write per barrier; at 100 TB the barriered
  *    intermediates (edge lists, verdict tables) are orders of magnitude
  *    smaller than the corpus, so the write is cheap insurance on
  *    long-running jobs.
  *
  * The mode is a SESSION CONF (`spark.graft.reliableBarriers=true`) rather
  * than a parameter threaded through every operator: the registry entries
  * have fixed (spark, dir) signatures, and resilience is a property of the
  * DEPLOYMENT (bench box vs production cluster), not of one call site.
  * The explicit-parameter overload exists for library callers that want to
  * decide per call.
  */
object Barrier {

  /** Session conf key: "true" switches every barrier in the session to
    * reliable (storage-backed) checkpointing. Requires
    * `SparkContext.setCheckpointDir` to have been called.
    */
  val ConfKey = "spark.graft.reliableBarriers"

  def barrier(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()

  def barrier(df: DataFrame): DataFrame =
    barrier(df,
      df.sparkSession.conf.getOption(ConfKey).exists(_.toBoolean))

  /** Materialize several INDEPENDENT barriers concurrently (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially). Each `barriered` call is a blocking action; a composed
    * query with k independent modality frames paid their materializations
    * back to back, leaving the executor idle through each job's tail. The
    * frames must not depend on one another; results are positionally the
    * same as mapping [[barrier]] over the inputs (bit-identical frames,
    * only the wall-clock overlaps). Runs through [[concurrently]].
    */
  def barrierAll(dfs: DataFrame*): Seq[DataFrame] =
    if (dfs.isEmpty) Seq.empty
    else concurrently(dfs.head.sparkSession.sparkContext, "graft-barrierAll",
      dfs.map(df => () => barrier(df)))

  /** Run independent driver-side thunks, each of which may submit Spark
    * jobs, concurrently; results are positional.
    *
    * Each thunk runs on its own daemon thread named after the call's job
    * group (`<name>-<uuid>`), and every job of the call carries that group;
    * the threads inherit the caller's job description. The first thunk to
    * throw cancels the group (with any job a sibling has yet to submit);
    * every thread is joined before that first failure is rethrown, so no
    * sibling job or thread outlives the call.
    */
  def concurrently[T](sc: SparkContext, name: String,
      tasks: Seq[() => T]): Seq[T] = {
    val group = s"$name-${java.util.UUID.randomUUID()}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val results = new Array[Any](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() => {
        sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"),
          interruptOnCancel = true)
        try results(i) = task()
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e)) sc.cancelJobGroupAndFutureJobs(group)
        }
      }, group)
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** `df.barriered` — the conf-routed barrier as a drop-in replacement for
    * the former bare `.localCheckpoint()` call sites.
    */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barriered: DataFrame = Barrier.barrier(df)
  }
}
