package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Barrier, Dedup, Similarity}

/** One SELF-LEARNING dedup modality: an arrivals stream judged against a
  * persisted index root that also learns from its own verdicts, so a later
  * batch's copy of an earlier batch's novel arrival is caught — which a
  * static-index stream never sees. The value holds only what differs per
  * modality; [[batch]], [[arrivals]] and [[replay]] are the one contract:
  *
  *  - batch b judges against base + learned batches STRICTLY BELOW b
  *    ([[knowledge]], over [[graft.ops.Dedup.readWithLearned]]), so a
  *    redelivered batch never sees its own rows and reproduces its
  *    verdicts bitwise;
  *  - arrivals judged [[learnable]] write their own index rows
  *    ([[project]]) to `<root>/<learnedDir>/batch_id=b`, and verdicts land
  *    in `<out>/batch_id=b`, both as per-write dynamic partition overwrites
  *    ([[LearningGate.writeBatch]]) — a replay rewrites its own partition,
  *    and the session conf is never touched. Neither write reads the
  *    other, and batch b reads no knowledge of its own, so a stream
  *    ([[arrivals]]) runs the two concurrently: a batch redelivered after
  *    either, both or neither landed rewrites both partitions identically;
  *  - every job of a batch is described `graft:gate/<name>/<step>/batch=b`,
  *    with steps `judge` (knowledge read, verdict barrier), `learned` and
  *    `verdicts`;
  *  - within one batch, arrivals only see prior knowledge: two novel
  *    copies in the same batch both read as novel (intra-batch dedup is the
  *    batch operators' job);
  *  - refusals (`invalid`, `unhashable`) are never learnable;
  *  - zero state-store state: the knowledge is nothing but parquet.
  *
  * `K` is what the judge needs from the knowledge side: the index frame,
  * plus its geometry for the vector gates (read once per batch) or the
  * frozen centroids for the semantic gate.
  *
  * @param name      the modality, in job descriptions
  * @param prepare   arrivals → judged input (decode, hash) in the scan stage
  * @param learnable the verdict whose arrivals become knowledge
  */
final case class LearningGate[K](
    name: String,
    knowledge: (SparkSession, String, Long) => K,
    judge: (DataFrame, K) => DataFrame,
    project: (DataFrame, DataFrame, K) => DataFrame,
    prepare: DataFrame => DataFrame = identity[DataFrame] _,
    learnable: String = "new",
    learnedDir: String = "learned") {

  /** One micro-batch: judge, then write the learned rows. Returns the
    * barriered verdict table; the learned write has happened when it
    * returns.
    */
  def batch(arrivals: DataFrame, root: String, batchId: Long): DataFrame = {
    val (verdicts, learn) = judged(arrivals, root, batchId)
    learn()
    verdicts
  }

  /** The gate as a stream: every trigger judges its batch, then writes the
    * learned rows and the verdicts (to `outPath`, batch-partitioned)
    * concurrently ([[graft.ops.Barrier.concurrently]]), both from the one
    * barriered verdict table.
    */
  def arrivals(stream: DataFrame, root: String, outPath: String,
      checkpoint: String): StreamingQuery =
    LogStream.eachBatch(stream, checkpoint) { (b, id) =>
      val (verdicts, learn) = judged(b, root, id)
      Barrier.concurrently(b.sparkSession.sparkContext, s"graft-gate-$name",
        Seq(learn, () => steps(b.sparkSession, id)("verdicts")(
          LearningGate.writeBatch(verdicts, id, outPath))))
    }

  /** The batch's barriered verdict table, and its learned write (not yet
    * run).
    */
  private def judged(arrivals: DataFrame, root: String,
      batchId: Long): (DataFrame, () => Unit) = {
    val step = steps(arrivals.sparkSession, batchId)
    // verdicts feed two actions (the learned write and the verdict write):
    // barrier them so the index join runs once
    val (input, known, verdicts) = step("judge") {
      val in = prepare(arrivals)
      val k = knowledge(arrivals.sparkSession, root, batchId)
      (in, k, Barrier.barrier(judge(in, k)))
    }
    (verdicts, () => step("learned")(LearningGate.writeBatch(
      project(input, verdicts.filter(col("verdict") === learnable), known),
      batchId, s"$root/$learnedDir")))
  }

  private def steps(spark: SparkSession, batchId: Long) =
    new LogStream.Steps(spark, s"gate/$name", batchId)

  /** The registered-query form: `base` writes the ingest-built index
    * under a root in a scratch directory of the current execution
    * ([[graft.Scratch.dir]]), then `batches` run through [[batch]] as
    * batches 0, 1, 2, … Returns `batch_id` plus `cols`, ordered by
    * (batch_id, first of `cols`).
    */
  def replay(base: String => Unit, batches: Seq[DataFrame],
      cols: String*): DataFrame = {
    val root = graft.Scratch.dir("graft_learn_").resolve("root").toString
    base(root)
    batches.zipWithIndex.map { case (arr, b) =>
      batch(arr, root, b.toLong).withColumn("batch_id", lit(b.toLong))
    }.reduce(_ unionByName _)
      .select(("batch_id" +: cols).map(col): _*)
      .orderBy(col("batch_id"), col(cols.head))
  }
}

object LearningGate {

  /** Write `rows` as partition `batch_id=<batchId>` of `path`, replacing
    * only that partition (per-write dynamic overwrite): the one
    * batch-keyed sink of every stream in [[LogStream]].
    */
  def writeBatch(rows: DataFrame, batchId: Long, path: String): Unit =
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** The arrivals whose `key` has a learnable verdict. */
  private def joinNovel(in: DataFrame, novel: DataFrame, key: String) =
    in.join(novel.select(key), Seq(key))

  /** Text: md5 + SimHash-64 rows ([[graft.ops.Dedup.buildCorpusIndex]]). */
  def text(maxHamming: Int = 3): LearningGate[DataFrame] =
    LearningGate[DataFrame]("text", Dedup.readWithLearned,
      Dedup.dedupAgainstIndex(_, _, maxHamming),
      (in, novel, _) => Dedup.buildCorpusIndex(joinNovel(in, novel, "doc_id")))

  /** The crawl frontier: arrivals (doc_id, raw_url) canonicalize in the
    * scan stage; a novel URL learns its first-seen row; `invalid`
    * (unparseable) URLs are never learned.
    */
  val url: LearningGate[DataFrame] =
    LearningGate[DataFrame]("url", Dedup.readWithLearned,
      Dedup.urlDedupAgainstIndex,
      (_, novel, _) => Dedup.buildUrlIndex(novel.select("doc_id", "url")))

  /** Near-URL: the token-bigram gram space, so a crawl that mutates one
    * query param per fetch still meets its learned alias.
    */
  def urlNear(minJaccard: Double = 0.4,
      maxDocFreq: Long = 64): LearningGate[DataFrame] =
    LearningGate[DataFrame]("url_near", Dedup.readWithLearned,
      Dedup.urlNearDedupAgainstIndex(_, _, minJaccard, maxDocFreq),
      (_, novel, _) => Dedup.buildUrlGramIndex(novel.select("doc_id", "url")))

  /** Video: (asset_id, payload) MP4 arrivals decode in the scan stage to
    * the layout-free descriptor text and are judged in its gram space;
    * refused decodes are `invalid`.
    */
  def video(minJaccard: Double = 0.4,
      maxDocFreq: Long = 64): LearningGate[DataFrame] =
    LearningGate[DataFrame]("video", Dedup.readWithLearned,
      Dedup.videoNearDedupAgainstIndex(_, _, minJaccard, maxDocFreq),
      (_, novel, _) => Dedup.buildVideoGramIndex(novel.select("doc_id", "text")),
      prepare = _.select(col("asset_id").as("doc_id"),
          graft.functions.Staged(
            graft.functions.Mp4SampleTables(col("payload"))).as("f"))
        .select(col("doc_id"), when(col("f.tracks").isNotNull,
          graft.functions.F.videoDescriptorText("f.tracks")).as("text")))

  /** Perceptual-hash media over (path, content) arrivals: `hash` runs
    * once in the scan stage, barriered so the decode feeds the verdict join
    * and the learned rows from one evaluation. `unhashable` arrivals are
    * never learned. The base index's `ex_id` must be a string (learned rows
    * key on arrival paths).
    */
  def media(hash: Column, maxHamming: Int = 3): LearningGate[DataFrame] =
    LearningGate[DataFrame]("media", Dedup.readWithLearned,
      Dedup.mediaDedupAgainstIndex(_, _, maxHamming),
      (in, novel, _) => joinNovel(in, novel, "asset_id")
        .filter(col("dhash").isNotNull)
        .select(col("asset_id").as("ex_id"), col("dhash")),
      prepare = b => Barrier.barrier(
        b.select(col("path").as("asset_id"), hash.as("dhash"))))

  /** A hyperplane index and its geometry by column name. */
  type Geometric = (DataFrame, Map[String, Int])

  /** Knowledge of a hyperplane index plus its geometry (planes, and tables
    * and dims where the index persists them), read with one `head()`, so
    * the judge and the learned rows follow the index.
    */
  private def withGeometry(spark: SparkSession, root: String,
      beforeBatch: Long): Geometric = {
    val idx = Dedup.readWithLearned(spark, root, beforeBatch)
    val names = Seq("planes", "tables", "dims").filter(idx.columns.contains)
    (idx, idx.select(names.map(col): _*).head().getValuesMap[Int](names))
  }

  /** Embeddings, single-table LSH; `invalid` vectors are never learned. */
  def embed(minCosine: Double = 0.9): LearningGate[Geometric] =
    LearningGate[Geometric]("embed", withGeometry,
      (in, k) => Dedup.embedDedupAgainstIndex(in, k._1, minCosine,
        k._2("planes"), k._2.getOrElse("dims", 64)),
      (in, novel, k) => Dedup.buildEmbedIndex(joinNovel(in, novel, "vec_id"),
        k._2("planes"), k._2.getOrElse("dims", 64)))

  /** Embeddings, banded (T tables of grown planes). The verdict join
    * enforces the coefficient-family gate before any learned row is
    * written, so an index keyed under another hyperplane family fails the
    * batch instead of learning every arrival.
    */
  def banded(minCosine: Double = 0.9): LearningGate[Geometric] =
    LearningGate[Geometric]("banded", withGeometry,
      (in, k) => Dedup.embedDedupAgainstIndexBanded(in, k._1, minCosine),
      (in, novel, k) => Dedup.buildEmbedIndexBanded(
        joinNovel(in, novel, "vec_id"), k._2("planes"), k._2("tables"),
        k._2.getOrElse("dims", 64)))

  /** Semantic: frozen `<root>/centroids` plus members under
    * `<root>/members`; `keep` arrivals learn their (ex_id, cell, ex_e)
    * member row, so a later paraphrase is pruned against them. Centroids
    * change only at retrain, which is a rebuild.
    */
  def sem(minCosine: Double = 0.9): LearningGate[(DataFrame, DataFrame)] =
    LearningGate[(DataFrame, DataFrame)]("sem",
      (spark, root, b) => (spark.read.parquet(s"$root/centroids"),
        Dedup.readWithLearned(spark, s"$root/members", b)),
      (in, k) => Similarity.semDedupAgainstIndex(in, k._1, k._2, minCosine),
      (in, keep, _) => in.join(keep.select("vec_id", "cell"), Seq("vec_id"))
        .select(col("vec_id").as("ex_id"), col("cell"),
          col("embedding").as("ex_e")),
      learnable = "keep", learnedDir = "members/learned")
}
