package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Listener counters, summed over every job and task the session runs. A span
  * reads them at its start and end; the difference is the work done inside it.
  */
final class Counters extends SparkListener {
  import Counters._
  private val c = new Array[Long](Size)
  private var active = 0
  private var busyFrom = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c(Jobs) += 1
    if (active == 0) busyFrom = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (active > 0) {
      active -= 1
      if (active == 0) c(BusyMs) += e.time - busyFrom
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c(Tasks) += 1
    val m = e.taskMetrics
    if (m != null) {
      c(CpuNs) += m.executorCpuTime
      c(GcMs) += m.jvmGCTime
      c(ShuffleBytes) += m.shuffleWriteMetrics.bytesWritten
      c(OutBytes) += m.outputMetrics.bytesWritten
      c(OutRows) += m.outputMetrics.recordsWritten
      c(InBytes) += m.inputMetrics.bytesRead
      c(InRows) += m.inputMetrics.recordsRead
    }
  }

  def snapshot(): Array[Long] = synchronized(c.clone())
}

object Counters {
  val Names: Vector[String] = Vector("jobs", "tasks", "cpu_ns", "gc_ms",
    "shuffle_bytes", "output_bytes", "output_rows", "input_bytes",
    "input_rows", "busy_ms")
  val Jobs = 0; val Tasks = 1; val CpuNs = 2; val GcMs = 3; val ShuffleBytes = 4
  val OutBytes = 5; val OutRows = 6; val InBytes = 7; val InRows = 8; val BusyMs = 9
  val Size: Int = Names.size
}

/** One recorded span: a call into a layer, with the listener counters it
  * accumulated. `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
    startNs: Long, endNs: Long, counters: Array[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(i: Int): Long = counters(i)
}

/** In-memory span recorder. Spans nest by call order on the single client
  * thread; they are written out only when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = new Counters
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private var attached = false

  /** Op id stamped on every span recorded from now on. */
  var op: String = "setup"

  /** Spans are recorded only while enabled; the listener is attached only then. */
  def enabled: Boolean = attached

  def enable(on: Boolean): Unit = if (on != attached) {
    PerfbenchBridge.drain(sc)
    if (on) sc.addSparkListener(counters) else sc.removeSparkListener(counters)
    attached = on
  }

  def span[A](name: String)(body: => A): A =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      PerfbenchBridge.drain(sc)
      val c0 = counters.snapshot()
      val t0 = System.nanoTime()
      open = id :: open
      try body
      finally {
        PerfbenchBridge.drain(sc)
        val t1 = System.nanoTime()
        val c1 = counters.snapshot()
        open = open.tail
        spans += Span(id, name, parent, op, t0, t1,
          Array.tabulate(Counters.Size)(i => c1(i) - c0(i)))
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** The span that closed most recently. */
  def last: Span = spans.last

  /** Span duration minus the part its direct children cover. Children run on
    * the same thread one after another, so their intervals do not overlap.
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s),
        "counters" -> Json.Raw(Json.obj(
          Counters.Names.zip(s.counters.toSeq.map(x => x: Any)))))))
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
