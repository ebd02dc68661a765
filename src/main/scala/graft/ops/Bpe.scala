package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** From-spec BYTE-PAIR-ENCODING tokenizer (Sennrich et al. 2016, the
  * algorithm behind every production subword vocabulary): train a fixed
  * number of merges on the corpus's word-frequency dictionary, then
  * tokenize by replaying the merges in rank order. Token counts — not
  * whitespace word counts — are what a training-data budget actually
  * meters, so the budget sampler gets a BPE variant (q38) next to its
  * word-count form (q36).
  *
  * Determinism is the design constraint (the t12 integer-exactness
  * discipline): pair counts are exact integer sums over the word dict,
  * the winning pair is argmax under the TOTAL order (count DESC, left
  * ASC, right ASC), and merge application is greedy left-to-right
  * non-overlapping — the same corpus yields the same merge table on any
  * partitioning, any engine. The DuckDB oracle replays the identical
  * training as unrolled SQL CTEs and must reproduce every merge.
  *
  * Symbol representation: a word's symbol sequence is ONE string with
  * each symbol wrapped in sentinel brackets U+0001 sym U+0002. Merging
  * pair (l, r) is then the literal replacement of `⟨l⟩⟨r⟩` by `⟨lr⟩`,
  * and because adjacent matches share NO characters, SQL replace()'s
  * universal left-to-right continue-after-match semantics IS exactly
  * BPE's greedy merge — identically in Spark and DuckDB. (A
  * single-separator encoding would make adjacent matches share their
  * delimiter and split even-length symbol runs differently from the
  * reference algorithm — measured and rejected.) Corpus words must not
  * contain the sentinel control characters; a deployment strips control
  * chars in the cleaning stage upstream of tokenization.
  *
  * Scale shape: the corpus is touched ONCE (word explode → frequency
  * dict, map-side partial agg); every merge iteration runs on the DICT
  * (vocabulary-bounded, ≪ corpus — the reason all BPE trainers work on
  * the frequency table), with a one-row argmax collect per merge (the
  * sanctioned scalar-read class; the merge decision is inherently
  * sequential). Tokenizing a corpus is a broadcast join against the
  * tokenized dict — per-doc counts never replay the merges per row.
  */
object Bpe {

  /** Symbol-open / symbol-close sentinels (see class doc). */
  val L = "\u0001"
  val R = "\u0002"

  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Word-frequency dictionary: (w, freq) via the corpus's standard
    * whitespace tokenization ([[Dedup.words]] — the t12/q36 discipline).
    */
  def wordDict(docs: DataFrame): DataFrame =
    docs.select(explode(Dedup.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Initial character representation: every char wrapped in ⟨⟩. */
  def charRep(w: Column): Column =
    concat(lit(L), array_join(split(w, ""), R + L), lit(R))

  /** One greedy merge of (l, r) applied to a bracket representation —
    * literal replace via a quoted regex (replaceAll's left-to-right
    * non-overlapping scan is the greedy BPE order; see class doc).
    */
  def applyMerge(rep: Column, l: String, r: String): Column =
    regexp_replace(rep,
      java.util.regex.Pattern.quote(L + l + R + L + r + R),
      java.util.regex.Matcher.quoteReplacement(L + l + r + R))

  /** Token count of a bracket representation: splitting the FULL string
    * on the inter-symbol boundary ⟩⟨ yields one element per symbol (the
    * outer brackets ride along harmlessly).
    */
  def repTokens(rep: Column): Column = size(split(rep, R + L)).cast("long")

  /** Train `numMerges` merges on the corpus. Each iteration: exact
    * integer pair counts over the (persisted) dict under the current
    * representation, argmax by (count DESC, left ASC, right ASC), one-row
    * collect, and the merge folded into the representation column as a
    * literal replace — the lineage stays `dict → k chained replaces`,
    * narrow and vocabulary-bounded. Stops early if no pair remains.
    */
  def trainMerges(docs: DataFrame, numMerges: Int): Seq[Merge] = {
    val dict = wordDict(docs)
      .withColumn("rep", charRep(col("w")))
      .select(col("freq"), col("rep"))
      .persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var cur = dict
      var k = 1
      var exhausted = false
      while (k <= numMerges && !exhausted) {
        val top = cur
          .select(col("freq"),
            split(expr("substring(rep, 2, length(rep) - 2)"), R + L).as("s"))
          .filter(size(col("s")) >= 2)
          .select(col("freq"), explode(expr(
            """transform(sequence(1, size(s) - 1), i ->
                 struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))"""))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, c) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += Merge(k, l, r, c)
          cur = cur.withColumn("rep", applyMerge(col("rep"), l, r))
          k += 1
        }
      }
      merges.toSeq
    } finally dict.unpersist()
  }

  /** Train `numMerges` merges at PRODUCTION merge counts (r15 verdict
    * item 2): the corpus-scale work — the word-frequency aggregation —
    * runs distributed exactly once, the dict is capped to the `maxVocab`
    * most frequent words under the total (freq DESC, w ASC) order (the
    * standard trainer posture: every production BPE trains on a bounded
    * frequency table; the cap is part of the operator contract, mirrored
    * by the oracle, and LOGGED when it binds — never silent), and the
    * merge loop runs on the collected dict with INCREMENTAL pair-count
    * maintenance ([[trainMergesIncremental]] — each merge's delta applied
    * to affected words only, the standard trainer's trick). Per-merge cost
    * is therefore flat in k and the number of Spark jobs is O(1) in k —
    * [[trainMerges]]' one-job-per-merge form (kept for t19) re-aggregates
    * the dict each iteration and deepens the lineage per merge, which at
    * 32k merges breaks down; this form's plan depth does not grow with k
    * at all. The collect is the sanctioned vocabulary-bounded scalar-read
    * class: ≤ maxVocab (w, freq) rows — the dict is a catalog-scale
    * object, ≪ corpus, by the same argument that makes every BPE trainer
    * work on the frequency table rather than the corpus.
    *
    * `dict` must carry (w: string, freq: long) — [[wordDict]]'s output, or
    * any fixture-derived frequency table.
    */
  def trainMergesScaled(dict: DataFrame, numMerges: Int,
      maxVocab: Int = 65536): Seq[Merge] = {
    val top = dict
      .orderBy(col("freq").desc, col("w").asc)
      .limit(maxVocab + 1) // +1: detect (and log) a binding cap without a count pass
      .collect()
      .map(r => (r.getString(r.fieldIndex("w")), r.getLong(r.fieldIndex("freq"))))
    val capped =
      if (top.length > maxVocab) {
        System.err.println(s"[graft] Bpe.trainMergesScaled: vocabulary cap " +
          s"BINDS (> $maxVocab distinct words) — training on the $maxVocab " +
          "most frequent under (freq DESC, w ASC); the oracle mirrors the " +
          "identical cap")
        top.take(maxVocab)
      } else top
    trainMergesIncremental(capped.toIndexedSeq, numMerges)
  }

  /** The standard trainer's inner loop over a collected frequency dict:
    * pair counts are built once, then each merge applies its delta to the
    * words that actually contain the winning pair (tracked by an inverted
    * pair → word-ids index), so per-merge cost is proportional to the
    * affected words, not the dict — flat in k. Semantics are EXACTLY
    * [[trainMerges]]': exact integer pair counts, argmax under the total
    * (count DESC, left ASC, right ASC) order, greedy left-to-right
    * non-overlapping merge application (OpsSpec pins equality rank for
    * rank against the per-merge-job form).
    */
  def trainMergesIncremental(dict: IndexedSeq[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val freqs = dict.map(_._2)
    val reps: Array[Array[String]] =
      dict.map(_._1.split("").filter(_.nonEmpty): Array[String]).toArray
    val counts = mutable.HashMap.empty[(String, String), Long]
    // candidate word ids per pair; entries may go stale after a word is
    // rewritten — the merge step re-verifies against the live rep (exact
    // counts come from `counts`, which only ever receives exact deltas)
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPairs(i: Int, sign: Long): Unit = {
      val s = reps(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(i)
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0) where.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    var i = 0
    while (i < reps.length) { addPairs(i, 1L); i += 1 }
    val merges = mutable.ArrayBuffer.empty[Merge]
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      // argmax under the total order — a linear scan over the live pair
      // table (HashMap order is irrelevant: the comparison is total)
      var best: (String, String) = null
      var bestC = 0L
      counts.foreach { case (p, c) =>
        if (best == null || c > bestC ||
            (c == bestC && (p._1 < best._1 ||
              (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null) exhausted = true
      else {
        val (l, r) = best
        merges += Merge(k, l, r, bestC)
        val lr = l + r
        // delta application: only words that (still) contain the pair
        where.remove(best).foreach(_.foreach { wi =>
          val s = reps(wi)
          var hit = false
          var j = 0
          while (!hit && j < s.length - 1) {
            hit = s(j) == l && s(j + 1) == r; j += 1
          }
          if (hit) {
            addPairs(wi, -1L)
            // greedy left-to-right non-overlapping — replace()'s
            // continue-after-match order, the trainMerges semantics
            val out = mutable.ArrayBuffer.empty[String]
            var x = 0
            while (x < s.length) {
              if (x < s.length - 1 && s(x) == l && s(x + 1) == r) {
                out += lr; x += 2
              } else { out += s(x); x += 1 }
            }
            reps(wi) = out.toArray
            addPairs(wi, 1L)
          }
        })
        k += 1
      }
    }
    merges.toSeq
  }

  /** The learned merge table as a DataFrame — t19's output contract. */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank.toLong, m.left, m.right, m.count))
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** BPE token count of a word under the learned merges — the literal
    * REFERENCE form: the char rep with every merge replayed in rank order
    * (a chain of codegen'd literal replaces), then one split. The chain
    * is k-deep in the plan, so it cannot reach production merge counts
    * (codegen and plan size grow with k) — [[tokens]]/[[tokenCountScaled]]
    * compute the identical function at O(1) plan depth; this form remains
    * as the semantics pin (OpsSpec proves the equality property) and for
    * tiny fixture models.
    */
  def tokenCount(w: Column, merges: Seq[Merge]): Column =
    repTokens(merges.foldLeft(charRep(w))((c, m) =>
      applyMerge(c, m.left, m.right)))

  /** BPE tokenization under the learned merges at PRODUCTION merge
    * counts: the rank-order replay as ONE native expression
    * ([[graft.functions.BpeApply]] — the merge table is a single plan
    * object, per-word cost independent of k), semantics exactly
    * [[tokenCount]]'s fold. Apply to the word DICT and broadcast-join —
    * never per corpus row.
    */
  def tokens(w: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeApply(w, merges.map(m => (m.left, m.right)))

  /** [[tokens]]' size — the drop-in scaled form of [[tokenCount]]. */
  def tokenCountScaled(w: Column, merges: Seq[Merge]): Column =
    size(tokens(w, merges)).cast("long")

  /** Replay-semantics family stamp for persisted models (the
    * [[Similarity]] `hp_family` / `requireFamily` discipline): a model
    * root is only applicable under the EXACT tokenizer semantics that
    * trained it — single-pass rank-order replay over the U+0001/U+0002
    * sentinel representation. Bump when the replay contract changes, so
    * stale roots refuse loudly instead of tokenizing subtly differently.
    */
  val Family = 1

  /** Content identity of a merge table: FNV-1a 64 over every field of
    * every merge in rank order (rank, left, right, AND the training
    * pair_count — counts are evidence, and a root whose evidence was
    * edited is as untrustworthy as one whose symbols were). Stable across
    * JVMs/engines by construction (explicit byte folding, no
    * `hashCode`).
    */
  def modelIdOf(merges: Seq[Merge]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(b: Int): Unit = { h ^= (b & 0xffL); h *= 0x100000001b3L }
    def mixStr(s: String): Unit = {
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach(b => mix(b))
      mix(0)
    }
    merges.foreach { m =>
      (0 until 8).foreach(i => mix((m.rank.toLong >> (8 * i)).toInt))
      mixStr(m.left); mixStr(m.right)
      (0 until 8).foreach(i => mix((m.count >> (8 * i)).toInt))
    }
    h
  }

  /** PERSISTED TOKENIZER MODEL ROOT (r17 verdict item 2 — the index-root
    * pattern applied to the BPE model): a 100 TB pipeline trains once and
    * tokenizes everything under a LOADED model version; until this
    * existed, "tokenize the corpus under model v3" was not an expressible
    * operation — every consumer retrained per run.
    *
    * Layout mirrors the ANN roots ([[Similarity.buildSq8Index]]'s
    * versioned-container discipline): `root/merges` holds the full merge
    * table with the content-hash `model_id` stamped on every row;
    * `root/model` is the one-row manifest (model_id, num_merges,
    * max_vocab, bpe_family) written LAST, so a readable manifest implies
    * a complete merges table (torn build ⇒ no manifest ⇒ loader refuses).
    * Returns the model_id.
    */
  def buildBpeModelRoot(spark: SparkSession, dict: DataFrame,
      numMerges: Int, rootPath: String, maxVocab: Int = 65536): Long = {
    val merges = trainMergesScaled(dict, numMerges, maxVocab)
    val modelId = modelIdOf(merges)
    mergesDf(spark, merges)
      .withColumn("model_id", lit(modelId))
      .write.mode("overwrite").parquet(s"$rootPath/merges")
    spark.range(1)
      .select(lit(modelId).as("model_id"),
        lit(numMerges).as("num_merges"),
        lit(maxVocab).as("max_vocab"),
        lit(Family).as("bpe_family"))
      .write.mode("overwrite").parquet(s"$rootPath/model")
    modelId
  }

  /** Load a persisted model root for application: one-row manifest read
    * (the sanctioned scalar-read class) + a vocabulary-bounded collect of
    * the k merge rows. Refuses loudly — never tokenizes subtly wrong —
    * when: the family stamp isn't this code's replay semantics; any row
    * carries a foreign model_id; ranks aren't exactly 1..k (both
    * trainers start ranks at 1); or the
    * re-derived content hash disagrees with the stamped model_id (a
    * tampered or torn merges table). Returns (model_id, merges in rank
    * order).
    */
  def loadBpeModel(spark: SparkSession, rootPath: String): (Long, Seq[Merge]) = {
    val m = spark.read.parquet(s"$rootPath/model").head()
    val modelId = m.getLong(m.fieldIndex("model_id"))
    val k = m.getInt(m.fieldIndex("num_merges"))
    val fam = m.getInt(m.fieldIndex("bpe_family"))
    require(fam == Family,
      s"BPE model root $rootPath was trained under replay family $fam but " +
        s"this code applies family $Family: tokens would differ silently. " +
        "Rebuild the root.")
    val rows = spark.read.parquet(s"$rootPath/merges")
      .orderBy(col("merge_rank")).collect()
    require(rows.length == k,
      s"BPE model root $rootPath: manifest declares $k merges, table holds " +
        s"${rows.length} — torn or truncated; rebuild the root.")
    val merges = rows.toIndexedSeq.map { r =>
      require(r.getLong(r.fieldIndex("model_id")) == modelId,
        s"BPE model root $rootPath: merges table carries a foreign " +
          "model_id — mixed or overwritten root; rebuild.")
      Merge(r.getLong(r.fieldIndex("merge_rank")).toInt,
        r.getString(r.fieldIndex("left_sym")),
        r.getString(r.fieldIndex("right_sym")),
        r.getLong(r.fieldIndex("pair_count")))
    }
    require(merges.zipWithIndex.forall { case (mg, i) => mg.rank == i + 1 },
      s"BPE model root $rootPath: merge ranks are not exactly 1..$k " +
        "(the trainer's 1-based rank contract) — reordered or gapped " +
        "table; rebuild.")
    require(modelIdOf(merges) == modelId,
      s"BPE model root $rootPath: content hash does not match the stamped " +
        "model_id — the table was edited after training; rebuild.")
    (modelId, merges)
  }
}
