package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Plan-evidence guard over EVERY registered query (docs/PLANS.md is the
  * narrative companion): asserts the physical-plan properties that keep the
  * engine efficient at cluster scale, so a regression in join strategy or
  * partitioning fails CI instead of only showing up as a bench delta.
  *
  * Checked (AQE off, so the static plan is deterministic):
  *  1. no BroadcastNestedLoopJoin outside the intentional all-pairs baselines
  *     (s01/d05) and 1-row scalar-cutoff broadcasts;
  *  2. no window function over an unpartitioned (global) frame — the r1
  *     scale-killer that serialized whole tables through one task;
  *  3. a SinglePartition shuffle may appear only where its input is bounded:
  *     under a final global aggregate (rows entering are already partial-
  *     aggregated per map task) or a limit.
  */
class PlansSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose BroadcastNestedLoopJoin is by design:
    *  - s01/d05: labeled exact all-pairs baselines (SURVEY);
    *  - builds whose row count is PROVABLY bounded: a single aggregated row
    *    (scalar cutoffs) or a literal LIMIT (e.g. the K-row centroid sample
    *    in s06) — "nested loop" over a constant-size build is a constant
    *    probe, not an all-pairs blowup;
    *  - s07-s11/s13/s15/s16: the ADC scoring `crossJoin(broadcast(lutQ))` —
    *    the build side is the per-query lookup table, whose cardinality is
    *    the pinned query set (`vec_id % 40 = 0 AND vec_id < 2000` → ≤ 50
    *    rows at any SF, the same pinning the scale probes key on). That
    *    bound is structural (the query filter), not visible to
    *    collectFirst. Until r19 the in-plan-training variants (s07-s11/
    *    s13) passed the bounded-build heuristic only ACCIDENTALLY — their
    *    codebook lineage contained a seed LIMIT; the r19 training-output
    *    barriers truncate that lineage, so they now need the same explicit
    *    exemption the persisted-root pair (s15/s16, parquet-backed
    *    codebooks) always did.
    */
  private val allowedBnlj = Set("s01_topk_brute", "d05_embed_neardup",
    "s07_topk_pq", "s08_topk_ivfpq", "s09_topk_pq_index",
    "s10_topk_ivfpq_index", "s11_topk_pq_append", "s13_topk_ivfpq_append",
    "s15_topk_pq_root", "s16_topk_ivfpq_root")
  private def isBoundedBuild(j: BroadcastNestedLoopJoinExec): Boolean = {
    val build = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      case _ => j.left
    }
    build.collectFirst {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty => a
      case a: SortAggregateExec if a.groupingExpressions.isEmpty => a
      // groupless collect_list (the broadcast candidate-array builds) plans
      // as ObjectHashAggregate — one row, bounded by the same argument as
      // the two cases above (and already treated as bounded by the
      // SinglePartition-exchange rule below). Before r19's training-output
      // barriers this case was reached accidentally through a GlobalLimit
      // deeper in the (now checkpoint-truncated) lineage.
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => a
      case l: GlobalLimitExec => l
      case l: TakeOrderedAndProjectExec => l
      case l: CollectLimitExec => l
      // a reused broadcast is opaque here, but its ORIGINAL occurrence is
      // audited wherever it first appears — reuse cannot hide a violation
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }.nonEmpty
  }

  private def violations(name: String, plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: SparkPlan, parent: Option[SparkPlan]): Unit = {
      p match {
        case j: BroadcastNestedLoopJoinExec
            if !allowedBnlj.contains(name) && !isBoundedBuild(j) =>
          out += s"$name: BroadcastNestedLoopJoin (${j.joinType}) outside baselines"
        case w: WindowExec if w.partitionSpec.isEmpty =>
          out += s"$name: global window (no PARTITION BY) — single-task scan"
        case w: WindowExec if {
          // No window may partition on a text/token column: word frequency
          // is Zipfian, so a window keyed on a token puts every row of a
          // stop word into ONE task, with no map-side partial aggregation
          // and no AQE skew splitting (the r5 t06 hazard — use groupBy +
          // equi-join for per-token counts instead). Bounded keys (ids,
          // lang, event_type, hash buckets) stay allowed.
          val tokenish = Set("w", "gram", "token", "term", "word", "shingle", "text")
          w.partitionSpec.exists {
            case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
              tokenish.contains(a.name)
            case _ => false
          }
        } =>
          out += s"$name: window partitioned on a token column (" +
            w.partitionSpec.map(_.sql).mkString(", ") + ") — Zipf-skewed single task"
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          val ok = parent.exists {
            case a: HashAggregateExec => a.groupingExpressions.isEmpty
            case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
            case a: SortAggregateExec => a.groupingExpressions.isEmpty
            case _: GlobalLimitExec | _: CollectLimitExec |
                _: TakeOrderedAndProjectExec => true
            case _ => false
          }
          if (!ok) out += s"$name: Exchange SinglePartition under " +
            s"${parent.map(_.nodeName).getOrElse("root")} (unbounded input)"
        case _ =>
      }
      // codegen wrappers are transparent: the structural parent of a node
      // under InputAdapter/WholeStageCodegen is the operator above them
      val nextParent = p match {
        case _: org.apache.spark.sql.execution.InputAdapter |
            _: org.apache.spark.sql.execution.WholeStageCodegenExec => parent
        case _ => Some(p)
      }
      p.children.foreach(walk(_, nextParent))
    }
    walk(plan, None)
    out.toSeq
  }

  test("the Staged fence keeps validity filters above the parse projections") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // If the dead-letter filter is ever pushed below the staged split/parse
    // projections again, its condition re-derives the parse per conjunct
    // (FilterExec generated code has no cross-conjunct subexpression
    // elimination — measured 3× slower). The fence makes the filter operate
    // on materialized `parts`/`strs` attributes, so its condition must not
    // contain the parse expressions themselves.
    // file-backed source: a LocalRelation would be constant-folded, Filter
    // and all, before the pushdown behavior under test even exists
    val dir = tempDir("fence-spec")
    java.nio.file.Files.writeString(dir.resolve("in.log"), "x|y\n")
    val lines = spark.read.text(dir.toString)
    val events = graft.parse.ApacheParser.parse(lines).events
    val filters = events.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
    }
    assert(filters.nonEmpty)
    filters.foreach { cond =>
      assert(!cond.contains("parse_str_array") && !cond.contains("split("),
        s"validity filter was pushed into the parse stage:\n$cond")
    }
    val auth = graft.parse.AuthfailParser.parse(lines).events
    val authFilters = auth.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
    }
    assert(authFilters.nonEmpty)
    authFilters.foreach { cond =>
      assert(!cond.toLowerCase.contains("rlike") && !cond.contains("regexp_extract"),
        s"validity filter was pushed into the regex stage:\n$cond")
    }
  }

  test("s04 candidate shuffles carry id pairs, never embedding arrays") {
    // The r3 defect: per-band joins and the (query_id, cand_id) dedup
    // shuffled two 64-float embeddings + norms per candidate row. The r4
    // shape moves ONLY the id pair through candidate generation and re-joins
    // vectors afterwards — mechanically: every exchange whose schema carries
    // BOTH ids (the pair-pipeline shuffles) must be array-free. Vector-side
    // shuffles carry one id + its embedding (inherent: corpus vectors must
    // move once) and are correctly exempt.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.run(spark, "s04_topk_lsh_bands", sfDir)(
        _.queryExecution.executedPlan)
      val pairShuffles = plan.collect {
        case e: ShuffleExchangeExec
            if e.output.exists(_.name == "query_id") &&
              e.output.exists(_.name == "cand_id") => e
      }
      assert(pairShuffles.nonEmpty, "expected at least the pair-dedup exchange")
      pairShuffles.foreach { e =>
        val arrays = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"pair shuffle carries array columns: ${arrays.map(_.name).mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q33 ranks strata through a salted local top-k (no single-stratum sort)") {
    // The r5 hazard: row_number() over (partition by lang) sorts ALL of a
    // language's rows in one task. The fixed plan must rank the full table
    // through a (lang, salt) window first — mechanically: the WindowExec
    // that computes the local rank (`lrk`) partitions on TWO expressions,
    // and only the bounded survivor set (≤ saltBuckets·perLang per stratum)
    // reaches the single-key global-rank window.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.run(spark, "q33_stratified_sample", sfDir)(
        _.queryExecution.executedPlan)
      val wins = plan.collect { case w: WindowExec => w }
      val localRank = wins.filter(_.windowExpression.exists(_.name == "lrk"))
      assert(localRank.nonEmpty, "expected the salted local-rank window (lrk)")
      localRank.foreach { w =>
        assert(w.partitionSpec.size == 2,
          s"local rank window must partition by (lang, salt), got: " +
            w.partitionSpec.map(_.sql).mkString(", "))
      }
      // the global rank window (its expression is cast-wrapped, so match by
      // shape): single-key partition, and it must consume the lrk survivors
      val globalRank = wins.filter(w => w.partitionSpec.size == 1 &&
        w.find { case l: WindowExec => l.windowExpression.exists(_.name == "lrk")
                 case _ => false }.nonEmpty)
      assert(globalRank.nonEmpty,
        "expected the global per-stratum rank window above the lrk survivors")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("no registered query plans an unbounded single-task stage or stray BNLJ") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val all = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        SparkEntry.run(spark, name, sfDir)(
          df => violations(name, df.queryExecution.executedPlan))
      }
      assert(all.isEmpty, "\n" + all.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
