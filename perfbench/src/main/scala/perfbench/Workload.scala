package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

/** What every workload shares: the session, the seed, its work root, the
  * tracer, and the per-layer samples it collects on traced ops.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val smoke: Boolean,
    val root: Path, val tracer: Tracer, val malformedAuthfail: Boolean = false) {
  val now: Instant = Gen.anchor(seed)
  def nowCol: Column = lit(java.sql.Timestamp.from(now))

  /** An independent random stream per purpose, all derived from the seed. */
  def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  /** Per-layer samples (one per call); the run reports their medians. */
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map()
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def dir(name: String): Path = Files.createDirectories(root.resolve(name))

  /** Runs a stream to completion inside a span named `name`, and records the
    * per-trigger durations Spark reports in its progress.
    */
  def runStream(name: String)(start: => StreamingQuery): StreamingQuery = {
    val q = tracer.span(name) {
      val q = start
      q.awaitTermination()
      q
    }
    if (tracer.enabled) {
      val progress = q.recentProgress
      progress.foreach { p =>
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        sample("streaming.trigger_ms", ms("triggerExecution"))
        sample("streaming.add_batch_ms", ms("addBatch"))
        sample("streaming.planning_ms", ms("queryPlanning"))
        sample("streaming.latest_offset_ms", ms("latestOffset"))
        sample("streaming.log_commit_ms", ms("walCommit") + ms("commitOffsets"))
      }
      if (progress.nonEmpty)
        sample("streaming.jobs_per_trigger",
          tracer.last.count(Counters.Jobs).toDouble / progress.length)
    }
    q
  }
}

/** One workload: a closed loop of ops over inputs generated from the seed.
  * Inputs for op i are landed by `prepare(i)` before its clock starts; its
  * output is checked by `check(i)` after the clock stops.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** Generate the inputs every op needs and prepare the warehouse or index. */
  def setup(): Unit

  def prepare(i: Int): Unit
  def op(i: Int): Unit
  def check(i: Int): Boolean
  /** Input records op i consumed. */
  def items(i: Int): Long

  /** Traced runs only: time each layer on op i's input, outside the op. */
  def probe(i: Int): Unit = ()

  /** One maintenance pass over the workload's store. */
  def compact(): Unit

  /** The op timed after the compaction pass, its input and its check. */
  def prepareClosing(j: Int): Unit = ()
  def closingOp(j: Int): Unit
  def checkClosing(j: Int): Boolean

  /** The directory the compaction pass rewrites. */
  def store: Path

  /** Nominal seconds of one op and one closing op on a 4-vCPU host; they
    * turn `--seconds` into op counts.
    */
  def nominalOpS: Double
  def nominalClosingOpS: Double

  /** Bytes stored by the engine, and input bytes generated, at the end. */
  def storedBytes: Long
  def inputBytes: Long

  /** Per-layer gauges read once at the end (layout, sizes). */
  def gauges(): Map[String, Double] = Map.empty
}
