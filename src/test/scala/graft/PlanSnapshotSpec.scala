package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan

/** GOLDEN PLAN FINGERPRINTS for every registered query (the third leg of
  * plan evidence, next to PlansSpec's anti-pattern bans and docs/PLANS.md's
  * narratives): the exact physical operator-tree SHAPE, AQE off, is checked
  * in under `src/test/resources/plans/<query>.txt`. A change that inserts a
  * shuffle, drops a broadcast, or re-orders a join fails THIS test with a
  * readable tree diff the moment it lands — not as an unexplained bench
  * delta three rounds later.
  *
  * Fingerprints are shape-only: codegen stage ids are stripped (they
  * renumber when unrelated stages change), and no expressions, statistics,
  * or paths are recorded — those may drift without a structural change.
  *
  * Regeneration (after an INTENTIONAL plan change — review the diff!):
  * {{{
  * SPARK_GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanSnapshotSpec"
  * }}}
  */
class PlanSnapshotSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val goldenDir = Paths.get("src/test/resources/plans")

  private def fingerprint(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      // "(4)" codegen-stage / plan-id suffixes renumber freely — strip
      val name = p.nodeName.replaceAll("\\s*\\(\\d+\\)", "").trim
      sb.append("  " * depth).append(name).append('\n')
      p.children.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    sb.toString
  }

  /** CODEGEN GUARD (r17 verdict item 1): eagerly compile every whole-stage
    * subtree — a janino refusal (method > 64 KB) is a silent interpreted
    * fall-back in production, with NO plan-shape signal for the
    * fingerprint to catch. Oversized-but-compiling methods (> HotSpot's
    * 8000-byte JIT limit) are added to `oversized` and asserted by the
    * caller: they run JVM-interpreted, one cliff earlier.
    */
  private def codegenGuard(name: String, plan: SparkPlan,
      oversized: mutable.ArrayBuffer[(String, String, Int)]): Option[String] =
    try {
      org.apache.spark.sql.GraftCodegenProbe.compileStages(plan)
        .foreach { case (stage, maxMethod) =>
          if (maxMethod > 8000) oversized += ((name, stage, maxMethod))
        }
      None
    } catch {
      case e: Throwable =>
        Some(s"$name: a whole-stage subtree REFUSES to compile — " +
          "production execution would silently run it interpreted: " +
          String.valueOf(e.getMessage).linesIterator.take(2)
            .mkString(" ").take(300))
    }

  /** Two-column diff window around the first divergence — enough context to
    * read the structural change without dumping two 100-line trees.
    */
  private def renderDiff(golden: String, actual: String): String = {
    val g = golden.split("\n", -1)
    val a = actual.split("\n", -1)
    val firstDiff = g.zipAll(a, "<missing>", "<missing>")
      .indexWhere { case (x, y) => x != y }
    val from = math.max(0, firstDiff - 4)
    val to = math.min(math.max(g.length, a.length), firstDiff + 8)
    (from until to).map { i =>
      val gl = if (i < g.length) g(i) else "<missing>"
      val al = if (i < a.length) a(i) else "<missing>"
      if (gl == al) s"    $gl"
      else s"  - $gl\n  + $al"
    }.mkString("\n")
  }

  test("every registered query's physical plan matches its golden fingerprint") {
    val regen = sys.env.contains("SPARK_GRAFT_REGEN_PLANS")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      if (regen) Files.createDirectories(goldenDir)
      // (query, stage, maxMethodCodeSize) for generated methods past
      // HotSpot's 8000-byte JIT limit — compiled but never JIT'd
      val oversized = mutable.ArrayBuffer[(String, String, Int)]()
      val problems = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        // cached relations registered by OTHER queries (or other suites
        // sharing the JVM-wide session) substitute InMemoryTableScans
        // into equivalent subtrees and make the fingerprint depend on
        // execution history; an empty cache per query is reproducible —
        // a query's OWN .cache() marks still register during its build
        spark.catalog.clearCache()
        Scratch.clearSessionRoots()
        // CONSTRUCTION-TIME job count (r15 verdict item 5 — the floor-
        // staleness blind spot): a query's cost is its plan PLUS every
        // Spark job its construction runs before the plan executes
        // (geometry scalar reads, family-gate reads, fixture index
        // builds). The r15 family gate added one such job to five
        // queries without moving their plan shape, leaving their recorded
        // floors ~0.1 s unreachable while `gen_floors.py --check` read
        // green. The fingerprint therefore records `prequery_jobs` — the
        // number of jobs the build triggers — as its last line: an
        // aux-job change flips the fingerprint hash, and the floor-
        // staleness check names the affected floors mechanically. Suites
        // run sequentially in the forked test JVM (sbt's
        // testForkedParallel default), so no concurrent jobs pollute it.
        // The plan is fingerprinted and compiled inside the sink, while
        // the entry's scratch roots still exist: compiling a stage whose
        // expressions embed scalar subqueries (the geometry gates)
        // EXECUTES those subqueries. Those guard-induced jobs are not
        // construction cost, so they are recorded apart and subtracted.
        val ((shape, (codegenProblem, guardJobs)), jobs) =
          graft.obs.JobLedger.record(spark)(
            SparkEntry.run(spark, name, sfDir) { df =>
              val plan = df.queryExecution.executedPlan
              (fingerprint(plan), graft.obs.JobLedger.record(spark)(
                codegenGuard(name, plan, oversized)))
            })
        val fp = shape + s"prequery_jobs: ${jobs.size - guardJobs.size}\n"
        val file = goldenDir.resolve(s"$name.txt")
        val fpProblem = if (regen) {
          Files.writeString(file, fp)
          None
        } else if (!Files.exists(file)) {
          Some(s"$name: no golden fingerprint — run " +
            "SPARK_GRAFT_REGEN_PLANS=1 sbt 'testOnly graft.PlanSnapshotSpec'")
        } else {
          val golden = Files.readString(file)
          if (golden == fp) None
          else Some(s"$name: physical plan shape drifted from the golden " +
            s"fingerprint (regen only if INTENTIONAL):\n" +
            renderDiff(golden, fp))
        }
        codegenProblem.toSeq ++ fpProblem
      }
      assert(problems.isEmpty,
        s"\n${problems.size} plan snapshot failure(s):\n\n" +
          problems.mkString("\n\n"))
      if (oversized.nonEmpty) {
        val report = oversized.sortBy(-_._3).map { case (q, s, n) =>
          f"  $q%-28s $s%-24s $n%6d B"
        }.mkString("\n")
        info(s"${oversized.size} generated method(s) past the 8000-byte " +
          s"JIT limit (compiled, but JVM-interpreted):\n$report")
      }
      assert(oversized.isEmpty,
        "\ngenerated methods past HotSpot's 8000-byte JIT limit — the " +
          "stage compiles but runs JVM-interpreted (split the projection; " +
          "see graft.functions.RowFence):\n" +
          oversized.sortBy(-_._3).map { case (q, s, n) =>
            f"  $q%-28s $s%-24s $n%6d B"
          }.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
