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
    * tag (`<name>-<uuid>`), and every job of the call carries that tag. The
    * threads keep everything else the caller's jobs carry: its job group,
    * description and tags. So a caller's group still reaches the call's
    * jobs; inside `foreachBatch` that is the stream's run id, which
    * `query.stop()` cancels. The first thunk to throw cancels the tag's
    * jobs. If the waiting thread is interrupted, it cancels them too. Either
    * way every thread is joined before the error is rethrown, so no job or
    * thread of the call outlives it; a sibling job submitted after the
    * cancellation runs to its end before the join returns.
    */
  def concurrently[T](sc: SparkContext, name: String,
      tasks: Seq[() => T]): Seq[T] = {
    val tag = s"$name-${java.util.UUID.randomUUID()}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val results = new Array[Any](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        try results(i) = task()
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
        }
      }, tag)
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        sc.cancelJobsWithTag(tag)
        threads.foreach(joinUninterruptibly)
        throw e
    }
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** Join `t`, waiting on through interrupts; the interrupt is kept. */
  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** `df.barriered` — the conf-routed barrier as a drop-in replacement for
    * the former bare `.localCheckpoint()` call sites.
    */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barriered: DataFrame = Barrier.barrier(df)
  }
}
