package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its metrics as one JSON object.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <work dir> --out <result file> [--trace-out <file>] [--smoke]
  *                [--malformed-authfail]
  * }}}
  *
  * A run sets up three times and keeps the last set-up. It runs the cold op
  * and two more warm-up ops, untimed; then ops in a closed loop, five
  * compaction passes over one copy of the store (the first warms up), and
  * closing ops. The op counts follow from `--seconds` and the workload's
  * nominal op times, so that the ops fill about `--seconds` on a 4-vCPU host
  * and the compaction passes come on top. Each op's inputs are landed before
  * its clock starts; outputs are checked after each phase, outside the clock.
  * With `--trace 1`, every other op records spans around each layer call and
  * is followed by a probe of each layer on that op's input; the untraced ops
  * in between give the tracing overhead.
  */
object Main {
  private val SetupReps = 3
  private val MainShare = 0.7
  private val WarmOps = 2
  private val MinMainOps = 3
  private val MinClosingOps = 3
  private val CompactPasses = 5

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, traceOut: Option[Path], smoke: Boolean,
      malformedAuthfail: Boolean)

  private val Flags = Set("--smoke", "--malformed-authfail")

  private def parse(args: Array[String]): Opts = {
    val m = args.filterNot(Flags).grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Path.of(get("--work")), Path.of(get("--out")),
      m.get("--trace-out").map(Path.of(_)), args.contains("--smoke"),
      args.contains("--malformed-authfail"))
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "logs_ingest" => new LogsIngest(ctx)
    case "learn_gate" => new LearnGate(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load0 = Host.load1()
    val steal0 = Host.stealS()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val cpu0 = Host.processCpuS()
    try {
      val metrics = run(spark, o, sessionS)
      val evidence = Map[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
        "load1_before" -> load0, "load1_after" -> Host.load1(),
        "steal_s" -> (Host.stealS() - steal0),
        "process_cpu_s_before" -> cpu0, "process_cpu_s_after" -> Host.processCpuS())
      Files.writeString(o.out, Json.obj(Seq(
        "metrics" -> metrics.metrics, "host" -> evidence,
        "attempted" -> metrics.attempted, "failed" -> metrics.failed,
        "info" -> metrics.info)))
    } finally spark.stop()
  }

  final case class Result(metrics: Map[String, Double], attempted: Int, failed: Int,
      info: Map[String, Any])

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double): Result = {
    val tracer = new Tracer(spark)
    // JVM uptime at each phase boundary, for the evidence line
    val phases = mutable.ArrayBuffer[(String, Double)]()
    def phase(name: String): Unit = phases += name ->
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val root = o.work.resolve("root")
    var attempted = 0
    var failed = 0
    def attempt(what: String)(body: => Boolean): Unit = {
      attempted += 1
      val ok = try body catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $what threw: $e")
          false
      }
      if (!ok) failed += 1
    }

    // set-up, several times, untraced; the last one is kept
    val (wl, setupTimes) = {
      var last: Workload = null
      val times = (0 until SetupReps).map { _ =>
        Fs.rmTree(root)
        Files.createDirectories(root)
        val (w, t) = timed {
          val w = make(o.workload, new Ctx(spark, o.seed, o.smoke, root, tracer,
            o.malformedAuthfail))
          w.setup()
          w
        }
        last = w
        t
      }
      (last, times)
    }
    val ctx = wl.ctx
    phase("setup")

    // Checks run after a phase, so the loop only lands inputs between ops.
    val checks = mutable.ArrayBuffer[(String, () => Boolean)]()
    def runChecks(): Unit = {
      checks.foreach { case (what, c) => attempt(what)(c()) }
      checks.clear()
    }
    def safely(what: String)(body: => Unit): Boolean =
      try { body; true }
      catch { case e: Exception => System.err.println(s"[perfbench] $what threw: $e"); false }

    // the cold op, then untimed warm-up ops while the JIT settles
    var coldS = 0.0
    (0 to WarmOps).foreach { i =>
      wl.prepare(i)
      val (ok, dt) = timed(safely(s"op $i")(wl.op(i)))
      if (i == 0) coldS = dt
      checks += (s"op $i" -> (() => ok && wl.check(i)))
    }
    phase("warmup")

    // Op counts follow from --seconds and the workload's nominal op times, not
    // from the clock: runs with the same --seconds do the same work, so a
    // slow host or a co-tenant burst changes the times, not what is timed.
    def count(share: Double, opS: Double, min: Int): Int =
      math.max(min, math.round(share * o.seconds / opS).toInt)
    val mainOps = count(MainShare, wl.nominalOpS, MinMainOps)
    val closingOps = count(1 - MainShare, wl.nominalClosingOpS, MinClosingOps)

    final case class OpTime(seconds: Double, cpuS: Double, traced: Boolean, items: Long)
    val opTimes = mutable.ArrayBuffer[OpTime]()
    for (i <- WarmOps + 1 to WarmOps + mainOps) {
      val traced = o.trace && i % 2 == 1
      wl.prepare(i)
      tracer.enable(traced)
      tracer.op = s"op$i"
      val c0 = Host.processCpuS()
      val (ok, dt) = timed(safely(s"op $i")(tracer.span("op")(wl.op(i))))
      val cpu = Host.processCpuS() - c0
      if (traced) {
        tracer.op = s"probe$i"
        safely(s"probe $i")(tracer.span("probe")(wl.probe(i)))
      }
      tracer.enable(false)
      opTimes += OpTime(dt, cpu, traced, wl.items(i))
      val id = i
      checks += (s"op $id" -> (() => ok && wl.check(id)))
    }
    phase("main")
    // before the compaction pass rewrites what the ops wrote
    runChecks()
    phase("main_checks")

    // every compaction pass starts from the same copy of the store; the
    // first one warms up, the last one leaves the store compacted
    val snapshot = o.work.resolve("store-snapshot")
    Fs.copyTree(wl.store, snapshot)
    val compactTimes = (0 until CompactPasses).map { k =>
      if (k > 0) {
        Fs.rmTree(wl.store)
        Fs.copyTree(snapshot, wl.store)
      }
      tracer.enable(o.trace && k > 0)
      tracer.op = s"compact$k"
      val (_, dt) = timed(tracer.span("compact")(wl.compact()))
      tracer.enable(false)
      dt
    }
    Fs.rmTree(snapshot)
    phase("compaction")

    val closing = mutable.ArrayBuffer[(Double, Boolean)]()
    for (j <- 0 until closingOps) {
      val traced = o.trace && j % 2 == 0
      wl.prepareClosing(j)
      tracer.enable(traced)
      tracer.op = s"closing$j"
      val (ok, dt) = timed(safely(s"closing op $j")(tracer.span("op")(wl.closingOp(j))))
      tracer.enable(false)
      closing += ((dt, traced))
      val id = j
      checks += (s"closing op $id" -> (() => ok && wl.checkClosing(id)))
    }
    phase("closing")
    runChecks()
    phase("closing_checks")

    val untraced = opTimes.filterNot(_.traced)
    val opS = untraced.map(_.seconds).toSeq
    val endToEnd = Map(
      "setup_s" -> (sessionS + Stats.median(setupTimes)),
      "cold_op_s" -> coldS,
      "op_p50_s" -> Stats.median(opS),
      // a median, like the latencies: one op slowed by a co-tenant burst
      // should not move the run's figure
      "items_per_s" -> Stats.median(untraced.map(t => t.items / t.seconds).toSeq),
      // a total: compilation bursts land in whichever op they overlap
      "cpu_s_per_op" -> untraced.map(_.cpuS).sum / untraced.size,
      "compact_s" -> Stats.median(compactTimes.drop(1)),
      "after_compact_p50_s" -> Stats.median(closing.filterNot(_._2).map(_._1).toSeq),
      "stored_bytes_per_input_byte" -> wl.storedBytes.toDouble / wl.inputBytes,
      "peak_rss_mb" -> Host.peakRssMb())

    val perLayer =
      if (!o.trace) Map.empty[String, Double]
      else Layers.metrics(tracer, ctx, wl.gauges(),
        tracedOpS = opTimes.filter(_.traced).map(_.seconds).toSeq,
        untracedOpS = opS)
    o.traceOut.foreach(tracer.write)

    Result(endToEnd ++ perLayer, attempted, failed, Map(
      "ops" -> opS.size, "op_max_s" -> opS.max, "traced_ops" -> opTimes.count(_.traced),
      "op_s" -> opTimes.map(_.seconds).toSeq, "closing_s" -> closing.map(_._1).toSeq,
      "closing_ops" -> closing.size,
      "phase_end_uptime_s" -> phases.toMap, "setup_reps_s" -> setupTimes,
      "compact_s" -> compactTimes, "session_s" -> sessionS,
      "failed_frac" -> failed.toDouble / attempted))
  }
}

/** Per-layer metrics from the traced run's spans. */
object Layers {
  def metrics(tracer: Tracer, ctx: Ctx, gauges: Map[String, Double],
      tracedOpS: Seq[Double], untracedOpS: Seq[Double]): Map[String, Double] = {
    val spans = tracer.all
    val byName = spans.groupBy(_.name)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def sec(name: String): Double = med(byName.getOrElse(name, Nil).map(_.seconds))
    def cnt(name: String, i: Int): Double =
      med(byName.getOrElse(name, Nil).map(_.count(i).toDouble))
    val sampled = ctx.samples.map { case (k, v) => k -> med(v.toSeq) }.toMap

    val timed = Seq("parse.apache", "parse.authfail", "parse.mail", "ingest.append",
      "ingest.upsert", "compaction.compact", "compaction.resolve",
      "streaming.apache", "streaming.authfail", "streaming.maillog", "streaming.gate",
      "streaming.mail_batch", "reports.hits_by_request", "reports.apache_totals",
      "reports.attempts_by_ip", "reports.inbox_listing", "render.build",
      "ops.read_index", "ops.judge", "ops.learn", "ops.compact_learned")
      .map(n => s"$n.s" -> sec(n))

    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Span): Span = {
      var r = s
      while (r.parent != -1) r = byId(r.parent)
      r
    }
    val roots = spans.filter(s => s.name == "op" && s.parent == -1)
    // main ops: the workload's op; closing ops follow the compaction pass
    val mainIds = roots.filter(_.op.startsWith("op")).map(_.id).toSet
    val n = math.max(1, mainIds.size).toDouble
    def inMain(s: Span): Boolean = mainIds.contains(rootOf(s).id)
    def opMed(f: Span => Double): Double = med(roots.filter(r => mainIds(r.id)).map(f))

    // self time per module over the main traced ops, as a mean per op; the
    // op span's own self time is the time no layer span covers
    val modules = Seq("parse", "ingest", "compaction", "streaming", "reports",
      "render", "ops")
    val selfByModule = modules.map { m =>
      s"self.$m.s" -> spans.filter(s => s.name.startsWith(m + ".") && inMain(s))
        .map(tracer.selfSeconds).sum / n
    }
    val unattributed = roots.filter(r => mainIds(r.id)).map(tracer.selfSeconds).sum / n
    val opMean = roots.filter(r => mainIds(r.id)).map(_.seconds).sum / n

    // reports and render, per report op (closing ops on logs_ingest)
    val builds = byName.getOrElse("render.build", Nil)
    val renderSelf = builds.map(tracer.selfSeconds)
    val reportSpans = spans.filter(_.name.startsWith("reports."))
    def perBuild(i: Int): Double = med(builds.map(b =>
      reportSpans.filter(_.parent == b.id).map(_.count(i).toDouble).sum))
    val buildRoots = builds.map(rootOf)

    Map(
      "parse.task_cpu_s" -> 0.0, "parse.apache.ok_ratio" -> 0.0,
      "parse.authfail.ok_ratio" -> 0.0, "parse.mail.ok_ratio" -> 0.0,
      "ingest.append.jobs" -> 0.0, "ingest.append.files" -> 0.0,
      "ingest.append.bytes" -> 0.0, "ingest.upsert.jobs" -> 0.0,
      "streaming.mail_batch.jobs" -> 0.0, "streaming.trigger_ms" -> 0.0,
      "streaming.add_batch_ms" -> 0.0, "streaming.planning_ms" -> 0.0,
      "streaming.latest_offset_ms" -> 0.0, "streaming.log_commit_ms" -> 0.0,
      "streaming.jobs_per_trigger" -> 0.0, "compaction.bytes_rewritten" -> 0.0,
      "compaction.files_before" -> 0.0, "compaction.files_after" -> 0.0,
      "render.body_bytes" -> 0.0, "ops.index_rows" -> 0.0,
      "ops.gate_batch.jobs" -> 0.0, "ops.verdict.new" -> 0.0,
      "ops.verdict.exact" -> 0.0, "ops.verdict.near" -> 0.0,
      "ingest.leaves" -> 0.0, "ingest.files_per_date" -> 0.0,
      "ops.learned_leaves" -> 0.0, "ops.learned_bytes" -> 0.0
    ) ++ sampled ++ gauges ++ timed ++ Map(
      "compaction.compact.jobs" -> cnt("compaction.compact", Counters.Jobs),
      "reports.jobs" -> perBuild(Counters.Jobs),
      "reports.bytes_read" -> perBuild(Counters.InBytes),
      "reports.rows_read" -> perBuild(Counters.InRows),
      "render.self_s" -> med(renderSelf),
      "render.share_of_op" ->
        (if (buildRoots.isEmpty) 0.0
         else renderSelf.sum / buildRoots.map(_.seconds).sum),
      "op.jobs" -> opMed(_.count(Counters.Jobs).toDouble),
      "op.tasks" -> opMed(_.count(Counters.Tasks).toDouble),
      "op.task_cpu_s" -> opMed(_.count(Counters.CpuNs) / 1e9),
      "op.gc_s" -> opMed(_.count(Counters.GcMs) / 1e3),
      "op.shuffle_bytes" -> opMed(_.count(Counters.ShuffleBytes).toDouble),
      "op.output_bytes" -> opMed(_.count(Counters.OutBytes).toDouble),
      "op.driver_only_s" -> opMed(s => s.seconds - s.count(Counters.BusyMs) / 1e3),
      "unattributed.s" -> unattributed,
      "trace.op_mean_s" -> opMean,
      "trace.op_p50_s" -> med(tracedOpS),
      "trace.overhead_s" -> (med(tracedOpS) - med(untracedOpS))
    ) ++ selfByModule
  }
}
