package graft.streaming

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ingest.{Ingest, Warehouse}
import graft.obs.JobLedger
import graft.parse.{ApacheParser, AuthfailParser, MailParser, ParseResult}

/** Structured Streaming ingest (reference §2.7: continuous per-line stdin pipes,
  * `apache_access.py:94`, `authfail.py:69`, one-message-per-process `maillog.py:141`).
  *
  * Spark-first shape: `readStream.text(dir)` / `binaryFile` file sources stand in
  * for the stdin pipes (at cluster scale the same transforms run off Kafka);
  * `foreachBatch` reuses the exact batch parse + write logic, turning the
  * reference's per-row transactions into one append per micro-batch.
  * `Trigger.AvailableNow` gives catch-up-then-stop batch-equivalent runs.
  */
object LogStream {

  private def run(
      parsed: DataFrame => ParseResult,
      lines: DataFrame,
      warehouse: Warehouse,
      table: String,
      feed: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(lines, checkpoint) { (batch, batchId) =>
      // batchId threads through to overwrite-by-batchId idempotent appends:
      // a redelivered micro-batch rewrites its own partitions, not duplicates
      val step = new Steps(batch.sparkSession, s"ingest/$feed", batchId)
      // the events write also counts the input and the events: the parsers
      // split every line into exactly one of the two, so the difference is
      // the dead-letter count, with no action of its own
      val input = Observation()
      val landed = Observation()
      val res = parsed(batch.observe(input, count(lit(1)).as("rows")))
      step("events")(Ingest.appendEvents(
        res.events.observe(landed, count(lit(1)).as("rows")),
        warehouse, table, batchId))
      val dead = for (in <- observedRows(input); ev <- observedRows(landed))
        yield in - ev
      step("dead_letters")(
        landDeadLetters(res.deadLetters, warehouse, feed, batchId, dead))
    }

  /** Describes every Spark job of one step of a micro-batch as
    * `graft:<scope>/<step>/batch=<id>` (scope `ingest/<feed>` or
    * `gate/<modality>`), then restores the caller's description (inside
    * `foreachBatch`, the stream's own).
    */
  private[streaming] final class Steps(spark: SparkSession, scope: String,
      batchId: Long) {
    def apply[A](name: String)(body: => A): A =
      JobLedger.described(spark, s"graft:$scope/$name/batch=$batchId")(body)
  }

  /** The `rows` count an action reported through `o`. None when the
    * optimizer dropped the collector from the plan that ran (the
    * observation then completes empty) or no report arrived.
    */
  private def observedRows(o: Observation): Option[Long] =
    Try(Await.result(o.future, 1.minute)).toOption
      .filter(_.length > 0).map(_.getLong(0))

  /** Writes a micro-batch's dead letters when `observed` counts some, and
    * nothing when it counts none; without a count, [[Ingest
    * .appendDeadLetters]]' `isEmpty` action decides.
    */
  private def landDeadLetters(dead: DataFrame, warehouse: Warehouse,
      feed: String, batchId: Long, observed: Option[Long]): Unit =
    observed match {
      case Some(0L) =>
      case Some(_) => Ingest.writeDeadLetters(dead, warehouse, feed, batchId)
      case None => Ingest.appendDeadLetters(dead, warehouse, feed, batchId)
    }

  /** Apache access-log directory stream → `apache_access` table. */
  def apache(spark: SparkSession, dir: String, warehouse: Warehouse,
      checkpoint: String): StreamingQuery =
    run(ApacheParser.parse, spark.readStream.text(dir), warehouse,
      "apache_access", "apache", checkpoint)

  /** sshd journal directory stream → `authfail` table. */
  def authfail(spark: SparkSession, dir: String, warehouse: Warehouse,
      checkpoint: String): StreamingQuery =
    run(AuthfailParser.parse, spark.readStream.text(dir), warehouse,
      "authfail", "authfail", checkpoint)

  /** Raw RFC-5322 message directory stream → contacts upsert + inbox + tocc
    * (reference maillog.py:66-104: per-address N+1 lookups and per-row inserts
    * become one driver-side merge + two appends per micro-batch).
    *
    * Job budget of a steady-state micro-batch (every address known, no
    * malformed message), AQE on, `local[2]`: 6 Spark jobs, by step —
    * `parse` 1 (the one collect of [[ingestMailBatch]]), `contacts` 1 (the
    * snapshot scan), `ids` 1 (the inbox max id), `inbox` 2 (the write's
    * shuffle, then the write) and `tocc` 1. A new address adds the snapshot
    * commit, a malformed message the dead-letter write. StreamingSpec pins
    * ≤ 6, and ≤ 7 with one dead letter.
    */
  def maillog(spark: SparkSession, dir: String, warehouse: Warehouse,
      checkpoint: String): StreamingQuery =
    eachBatch(binaryFiles(spark, dir)
      .select(col("content"), col("modificationTime")), checkpoint) {
      (batch, batchId) => ingestMailBatch(batch, warehouse, batchId)
    }

  /** A `binaryFile` stream over `dir`: one row per file. */
  private def binaryFiles(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir)

  /** Media asset directory stream → decoded-feature table: the streaming
    * MULTIMODAL ingest path. Every native decoder (container sniff, GIF
    * still/animation, baseline JPEG, WAV PCM) runs per-row inside the
    * micro-batch's scan
    * stage — payloads never leave the stage; the parquet sink receives only
    * the small per-asset feature rows. One format-dispatch projection:
    * `format` reports which decoder claimed the payload, and the
    * family-specific stats ride in nullable columns (exactly the
    * wide-feature-table layout a training pipeline lands media into).
    */
  def mediaAssets(spark: SparkSession, dir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    val arrivals = binaryFiles(spark, dir)
      .select(col("path"), col("length").as("n_bytes"), col("content"))
    mediaDecorations(arrivals, Seq("path", "n_bytes"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The media decoration PROJECTION shared by [[mediaAssets]]' micro-batch
    * scan stage and the m24 batch replay — one dataflow, two drivers, so
    * the streaming and batch inventories agree by construction
    * (StreamingSpec cross-checks them on a mixed fixture). Every decoder
    * runs per-row on `content` inside the scan stage; `keep` names the
    * caller's passthrough columns (stream: path + n_bytes; batch replay:
    * asset_id).
    *
    * r17 adds VIDEO to the admission stream (r16 verdict item 2): both
    * MP4 walkers — [[graft.functions.Mp4SampleTables]] for flat files,
    * [[graft.functions.Mp4FragmentTables]] for DASH/CMAF fragmented
    * streams — run in the same projection (the m23 dispatch: the
    * wrong-class walker refuses at its first top-level box pass, so the
    * second walker costs one header scan, never a media-byte pass), and
    * the per-asset transcode-sizing aggregates land as nullable columns:
    * `stream_class` (flat/fragmented/null), `mp4_tracks`, `mp4_samples`,
    * `mp4_duration_ms` (max across tracks), `mp4_bytes`. A crawl
    * admission stream can now size a transcode fleet at admission time,
    * not in a later batch sweep.
    */
  def mediaDecorations(assets: DataFrame, keep: Seq[String]): DataFrame = {
    val decoded = assets
      .select(keep.map(col) ++ Seq(
        graft.functions.MediaDims(col("content")).as("dims"),
        graft.functions.GifAnimFeatures(col("content")).as("gif"),
        graft.functions.JpegFeatures(col("content")).as("jpg"),
        graft.functions.WavFeatures(col("content")).as("wav"),
        graft.functions.FlacFeatures(col("content")).as("flac"),
        graft.functions.Mp4SampleTables(col("content")).as("mp4s"),
        graft.functions.Mp4FragmentTables(col("content")).as("mp4f")): _*)
      // the class that decoded picks the track rows; the common subset of
      // the two walkers' track schemas is what the per-asset aggregates
      // need (size(NULL)/aggregate(NULL, …) are NULL, so refused and
      // non-MP4 assets carry NULL inventory — never a plausible zero)
      .withColumn("mp4trk", expr(
        """CASE WHEN mp4s.tracks IS NOT NULL THEN
             transform(mp4s.tracks, t -> struct(
               t.sample_count AS sample_count, t.duration_ms AS duration_ms,
               t.total_bytes AS total_bytes))
           ELSE
             transform(mp4f.tracks, t -> struct(
               t.sample_count AS sample_count, t.duration_ms AS duration_ms,
               t.total_bytes AS total_bytes))
           END"""))
    decoded.select(
      keep.map(col) ++ Seq(
        when(col("wav.format") === "wav", lit("wav"))
          .when(col("flac.format") === "flac", lit("flac"))
          .when(col("gif.format") === "gif", lit("gif"))
          .when(col("jpg.format") === "jpeg", lit("jpeg"))
          .when(col("mp4s.format") === "mp4", lit("mp4"))
          .otherwise(col("dims.format")).as("format"),
        coalesce(col("gif.width"), col("jpg.width"), col("dims.width")).as("width"),
        coalesce(col("gif.height"), col("jpg.height"), col("dims.height")).as("height"),
        col("gif.n_frames").as("n_frames"),
        coalesce(col("gif.sum_r"), col("jpg.sum_r")).as("sum_r"),
        coalesce(col("gif.sum_g"), col("jpg.sum_g")).as("sum_g"),
        coalesce(col("gif.sum_b"), col("jpg.sum_b")).as("sum_b"),
        coalesce(col("wav.channels"), col("flac.channels")).as("channels"),
        coalesce(col("wav.n_frames"), col("flac.n_samples")).as("audio_frames"),
        coalesce(col("wav.sum_ch0"), col("flac.sum_ch0")).as("sum_ch0"),
        coalesce(col("wav.peak_abs"), col("flac.peak_abs")).as("peak_abs"),
        when(col("mp4s.tracks").isNotNull, lit("flat"))
          .when(col("mp4f.tracks").isNotNull, lit("fragmented"))
          .as("stream_class"),
        // size(NULL) is -1 under the default legacy flag — gate it
        when(col("mp4trk").isNotNull, size(col("mp4trk")).cast("long"))
          .as("mp4_tracks"),
        // Cross-track sums saturate to NULL instead of wrapping (r17
        // ADVICE) — the shared guarded fold, semantics documented at
        // [[graft.functions.F.saturatingTrackSum]]
        graft.functions.F.saturatingTrackSum("mp4trk", "sample_count")
          .as("mp4_samples"),
        expr("aggregate(mp4trk, CAST(0 AS BIGINT), (a, t) -> greatest(a, t.duration_ms))")
          .as("mp4_duration_ms"),
        graft.functions.F.saturatingTrackSum("mp4trk", "total_bytes")
          .as("mp4_bytes")): _*)
  }

  /** The one stream shape of this file: `Trigger.AvailableNow`
    * micro-batches of `arrivals` through `f(batch, batchId)`, offsets in
    * `checkpoint`. Every sink `f` writes is keyed by the batch id, so a
    * redelivered micro-batch rewrites its own output instead of
    * duplicating it.
    */
  private[streaming] def eachBatch(arrivals: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()

  /** STREAMING incremental dedup against the WAREHOUSE — the production
    * shape of the d11 batch operator: arrivals stream → per micro-batch,
    * join the PERSISTED corpus dedup index ([[graft.ops.Dedup
    * .buildCorpusIndex]]: md5 + packed SimHash-64, one row per corpus doc,
    * refreshed by ingest/compaction) → exact / near / new verdicts land in
    * a verdict sink partitioned by batch id for idempotent replay.
    *
    * The index path is re-read INSIDE foreachBatch, so every micro-batch
    * sees the corpus as of ITS OWN planning time — files appended to the
    * index between batches (new ingest, a compaction rewrite) are picked
    * up with no query restart, which a static-side join would miss.
    *
    * State is bounded at exactly zero: no stateful operator exists in the
    * plan (offsets in the checkpoint are the only carried state) — the
    * corpus lives in the warehouse, not the state store, so a year-long
    * run holds nothing in memory between triggers. Contrast
    * [[graft.ops.Dedup.streamingSimhashNearDup]], which pairs arrivals
    * against ARRIVALS within an event-time horizon and must carry (and
    * evict) per-bucket state; this operator answers the other production
    * question — "is this arrival already in my corpus?" — and the verdicts
    * match [[graft.ops.Dedup.dedupAgainst]] batch-for-batch by
    * construction (both run [[graft.ops.Dedup.dedupAgainstIndex]]).
    */
  def dedupArrivals(arrivals: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, maxHamming: Int = 3): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      LearningGate.writeBatch(graft.ops.Dedup.dedupAgainstIndex(batch,
        batch.sparkSession.read.parquet(indexPath), maxHamming),
        batchId, outPath)
    }

  /** STREAMING decontamination gate — [[dedupArrivals]]' shape for the
    * train/eval contamination check ([[graft.ops.Dedup
    * .contaminationGateAgainstIndex]]): arriving training documents
    * shingle in their own micro-batch and join the PERSISTED eval-gram
    * index ([[graft.ops.Dedup.buildEvalGramIndex]], re-read per batch —
    * an eval-set release is picked up without restart) for
    * `contaminated` / `clean` verdicts with the worst-offender evidence
    * columns. No learning loop by design: the knowledge side is the
    * FROZEN benchmark set, which changes by release, never by ingest.
    * Zero state-store state; verdicts land batch-partitioned for
    * idempotent replay.
    */
  def contaminationArrivals(arrivals: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, n: Int = 8,
      minShared: Long = 1): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      LearningGate.writeBatch(graft.ops.Dedup.contaminationGateAgainstIndex(
        batch, batch.sparkSession.read.parquet(indexPath), n, minShared),
        batchId, outPath)
    }

  /** STREAMING admission pipeline — the e08 decision table as the ingest
    * gate it exists to be ([[graft.ops.Dedup.admitAgainstIndexes]], shared
    * verbatim with the registered batch form): each arriving
    * `(doc_id, text, embedding)` micro-batch runs all three gates against
    * the three PERSISTED indexes (corpus text index, banded embed index,
    * eval-gram index — each re-read per batch, so ingest-cadence index
    * refreshes and eval-set releases land without restart) and its
    * severity-precedence decisions land batch-partitioned for idempotent
    * replay. The batch is barriered ONCE: it feeds three gate subtrees in
    * one action (the multi-reference class). Zero state-store state.
    */
  def admissionArrivals(arrivals: DataFrame, textIndexPath: String,
      embIndexPath: String, evalIndexPath: String, outPath: String,
      checkpoint: String, maxHamming: Int = 3, minCosine: Double = 0.9,
      n: Int = 8): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      LearningGate.writeBatch(graft.ops.Dedup.admitAgainstIndexes(
        graft.ops.Barrier.barrier(batch),
        spark.read.parquet(textIndexPath),
        spark.read.parquet(embIndexPath),
        spark.read.parquet(evalIndexPath),
        maxHamming, minCosine, n), batchId, outPath)
    }

  /** [[LearningGate.text]]'s micro-batch ([[LearningGate.batch]]): the
    * self-learning text gate's verdicts for `batch` against the index root
    * strictly below `batchId`, its `new` docs learned.
    */
  def dedupLearningTextBatch(batch: DataFrame, indexRoot: String,
      batchId: Long, maxHamming: Int = 3): DataFrame =
    LearningGate.text(maxHamming).batch(batch, indexRoot, batchId)

  /** SELF-LEARNING text dedup stream: [[LearningGate.text]] as a stream
    * ([[LearningGate.arrivals]]).
    */
  def dedupLearningArrivals(arrivals: DataFrame, indexRoot: String,
      outPath: String, checkpoint: String,
      maxHamming: Int = 3): StreamingQuery =
    LearningGate.text(maxHamming)
      .arrivals(arrivals, indexRoot, outPath, checkpoint)

  /** STREAMING media dedup against the warehouse — [[dedupArrivals]]' shape
    * for IMAGES: arriving payloads hash in the micro-batch scan stage
    * (native `ppm_dhash`; payloads never leave it), then join the PERSISTED
    * perceptual-hash index ([[graft.ops.Dedup.buildMediaIndex]], re-read
    * per batch so corpus growth is visible without restart) for
    * exact / near / new verdicts ([[graft.ops.Dedup
    * .mediaDedupAgainstIndex]]: banded candidates under the band-frequency
    * cap, codegen'd Hamming). Zero state-store state; verdicts land
    * batch-partitioned for idempotent replay.
    */
  def dedupImageArrivals(arrivals: DataFrame, indexPath: String,
      outPath: String, checkpoint: String,
      maxHamming: Int = 3): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val hashed = batch.select(col("path").as("asset_id"),
        graft.functions.PpmDHash(col("content")).as("dhash"))
      LearningGate.writeBatch(graft.ops.Dedup.mediaDedupAgainstIndex(
        hashed, batch.sparkSession.read.parquet(indexPath), maxHamming),
        batchId, outPath)
    }

  /** STREAMING cross-codec AUDIO dedup against the warehouse —
    * [[dedupImageArrivals]]' shape for recordings: arriving payloads hash
    * in the micro-batch scan stage through ONE perceptual space
    * (`coalesce(wav_dhash, flac_dhash)` — a wrong-magic decode refuses in
    * O(1), and FLAC's losslessness makes a WAV and a FLAC of the same
    * recording hash identically, so the codec an uploader chose cannot
    * hide a duplicate), then join the PERSISTED index (re-read per batch)
    * for exact / near / new / `unhashable` verdicts. Zero state-store
    * state; verdicts land batch-partitioned for idempotent replay.
    */
  def dedupAudioArrivals(arrivals: DataFrame, indexPath: String,
      outPath: String, checkpoint: String,
      maxHamming: Int = 3): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val hashed = batch.select(col("path").as("asset_id"),
        coalesce(
          graft.functions.WavDHash(col("content")),
          graft.functions.FlacDHash(col("content"))).as("dhash"))
      LearningGate.writeBatch(graft.ops.Dedup.mediaDedupAgainstIndex(
        hashed, batch.sparkSession.read.parquet(indexPath), maxHamming),
        batchId, outPath)
    }

  /** STREAMING duplicated-substring check against the warehouse — the
    * fourth member of the incremental family (text hashes
    * [[dedupArrivals]], images [[dedupImageArrivals]], embeddings
    * [[dedupEmbedArrivals]], substrings here): each arriving document's
    * positional grams join the PERSISTED distinct-gram index
    * ([[graft.ops.Dedup.buildGramIndex]], re-read per batch so corpus
    * growth is visible without restart), and runs of corpus-known grams
    * merge to spans ([[graft.ops.Dedup.spanCheckAgainstIndex]]) — the
    * ingest-time ExactSubstr gate. Span rows land batch-partitioned for
    * idempotent replay; zero state-store state.
    */
  def spanCheckArrivals(arrivals: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, n: Int = 5): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      LearningGate.writeBatch(graft.ops.Dedup.spanCheckAgainstIndex(
        batch, batch.sparkSession.read.parquet(indexPath), n),
        batchId, outPath)
    }

  /** SELF-LEARNING substring check — [[LearningGate]]'s contract for the
    * gram index, outside it because its learned rows are not derived from
    * verdicts: every arrival's FIRST-SEEN grams (anti-joined against base +
    * earlier learned batches, so the one-row-per-gram invariant
    * [[graft.ops.Dedup.spanCheckAgainstIndex]]'s run merging depends on
    * holds globally, at arrival-bounded cost) land in the `learned/`
    * delta — a later arrival quoting an earlier arrival's content gets
    * its span flagged, which the static-index stream cannot see. Batch b
    * reads base + learned strictly below b
    * ([[graft.ops.Dedup.readWithLearned]] — replay-exact). Zero
    * state-store state.
    */
  def spanCheckLearningArrivals(arrivals: DataFrame, indexRoot: String,
      outPath: String, checkpoint: String, n: Int = 5): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val idx = graft.ops.Dedup.readWithLearned(batch.sparkSession,
        indexRoot, beforeBatch = batchId)
      val novelGrams = graft.ops.Dedup.buildGramIndex(batch, n)
        .join(idx, Seq("gram"), "left_anti")
      LearningGate.writeBatch(novelGrams, batchId, s"$indexRoot/learned")
      LearningGate.writeBatch(
        graft.ops.Dedup.spanCheckAgainstIndex(batch, idx, n), batchId, outPath)
    }

  /** STREAMING embedding dedup against the warehouse — the third modality
    * of the incremental family (text [[dedupArrivals]], images
    * [[dedupImageArrivals]], embeddings here): arriving vectors join the
    * PERSISTED LSH-bucketed index ([[graft.ops.Dedup.buildEmbedIndex]],
    * re-read per batch) on the bucket key and verify by exact cosine
    * ([[graft.ops.Dedup.embedDedupAgainstIndex]]). near / new / invalid
    * verdicts land batch-partitioned for idempotent replay; zero
    * state-store state. `planes` must match the value the index was built
    * with ([[graft.ops.Dedup.buildEmbedIndex]] persists it, and the batch
    * body validates it per micro-batch — a mismatch fails loudly instead of
    * silently bucketing every arrival into `new`).
    */
  def dedupEmbedArrivals(arrivals: DataFrame, indexPath: String,
      outPath: String, checkpoint: String,
      minCosine: Double = 0.9, planes: Int = 4): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      LearningGate.writeBatch(graft.ops.Dedup.embedDedupAgainstIndex(
        batch, batch.sparkSession.read.parquet(indexPath), minCosine, planes),
        batchId, outPath)
    }

  /** STREAMING incremental SemDeDup against the warehouse — the semantic
    * member of the incremental family (text [[dedupArrivals]], images
    * [[dedupImageArrivals]], embeddings [[dedupEmbedArrivals]], substrings
    * [[spanCheckArrivals]]): the PERSISTED cluster index
    * ([[graft.ops.Similarity.buildSemIndex]] — `centroids/` and `members/`
    * under one root, re-read per batch so a re-clustered corpus is visible
    * without restart); each arriving vector assigns to its nearest
    * centroid (a broadcast of the K-row table) and compares by exact
    * cosine only within that cell
    * ([[graft.ops.Similarity.semDedupAgainstIndex]]). prune / keep /
    * invalid verdicts land batch-partitioned for idempotent replay; zero
    * state-store state.
    */
  def dedupSemArrivals(arrivals: DataFrame, indexPath: String,
      outPath: String, checkpoint: String,
      minCosine: Double = 0.9): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      LearningGate.writeBatch(graft.ops.Similarity.semDedupAgainstIndex(
        batch, spark.read.parquet(s"$indexPath/centroids"),
        spark.read.parquet(s"$indexPath/members"), minCosine),
        batchId, outPath)
    }

  /** STREAMING PQ-index APPEND — the INGEST side of the ANN index's
    * maintenance cadence ([[graft.ops.Similarity.appendToPqIndex]] as a
    * stream): each arriving vector is coded under the index's FROZEN
    * codebooks (re-read per batch, geometry followed from the index — a
    * compaction-cadence retrain is honored without restart) and its dense
    * code row lands batch-partitioned under `codes_appended/` for
    * idempotent replay. Zero state-store state; the whole batch is one
    * map-side assignment (broadcast candidate arrays + `argmax_dot`) plus
    * the narrow per-vector pivot — cost linear in the batch, constant in
    * the corpus the index covers. Readers
    * ([[graft.ops.Similarity.readPqCodes]] — [[annArrivals]] uses it) see
    * appended vectors as candidates from the next micro-batch on; the
    * DRIFT metric ([[graft.ops.Similarity.pqIndexDrift]]) over the same
    * tables decides when the append debt forces a retrain. Cross-batch
    * duplicate vec_ids are the caller's upstream dedup concern, exactly
    * as in the row-append ingest family.
    */
  def pqIndexAppendArrivals(arrivals: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      // per-batch root resolution: under a versioned container a
      // drift-triggered rebuild flips this stream to the new quantizer
      // (and its own append delta) without restart
      val root = graft.ops.Similarity.resolvePqIndexPath(spark, indexPath)
      LearningGate.writeBatch(graft.ops.Similarity.appendToPqIndex(
        batch, spark.read.parquet(s"$root/codebooks")),
        batchId, s"$root/codes_appended")
    }

  /** STREAMING ANN against the warehouse — the query-side counterpart of
    * the incremental dedup family (r10, completing the verdict's item-8
    * symmetry): each arriving vector gets its top-k corpus neighbors from
    * the PERSISTED PQ index ([[graft.ops.Similarity.buildPqIndex]] —
    * `codebooks/` and `codes/` under one root, re-read per batch so an
    * ingest-cadence index rebuild is visible without restart). Per
    * micro-batch the batch's ADC lookup table builds against the broadcast
    * codebooks and every candidate costs M table hits
    * ([[graft.ops.Similarity.topkPqAgainstIndex]] — no training, no
    * vector-width joins in the hot path). The quantizer geometry is read
    * FROM the index per batch (the index is self-describing — one-row
    * scalar read, planes-guard class), so an ingest-cadence rebuild that
    * re-sizes the quantizer is honored by the running stream exactly like
    * corpus growth, instead of tripping a caller-parameter guard. Results
    * land batch-partitioned for idempotent replay; zero state-store state.
    */
  def annArrivals(arrivals: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, k: Int = 3): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      // versioned containers resolve per batch (resolvePqIndexPath): a
      // drift-triggered rebuild routes queries to the new root next batch
      val root = graft.ops.Similarity.resolvePqIndexPath(spark, indexPath)
      val codebooks = spark.read.parquet(s"$root/codebooks")
      val g = codebooks.select(col("subspaces"), col("codebook_size"),
        col("dims")).head()
      LearningGate.writeBatch(graft.ops.Similarity.topkPqAgainstIndex(
        batch, codebooks, graft.ops.Similarity.readPqCodes(spark, root), k,
        g.getInt(0), g.getInt(1), g.getInt(2)), batchId, outPath)
    }

  /** [[pqIndexAppendArrivals]] for an IVF-PQ index root: arrivals are
    * coarse-assigned AND residual-coded under the root's frozen quantizer
    * pair ([[graft.ops.Similarity.appendToIvfPqIndex]] — the same
    * map-side broadcast/argmax shape, bucket + dense code array per row)
    * and land batch-partitioned under `codes_appended/` for idempotent
    * replay. The generation machinery is schema-agnostic, so compaction
    * and readers ([[graft.ops.Similarity.readPqCodes]]) serve the merged
    * view unchanged; versioned containers resolve per batch, so a
    * drift-triggered rebuild ([[graft.ops.Similarity
    * .rebuildIvfPqRootIfDrifted]]) flips this stream to the new quantizer
    * — and its grown coarse geometry — without restart.
    */
  def ivfPqIndexAppendArrivals(arrivals: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val root = graft.ops.Similarity.resolvePqIndexPath(spark, indexPath)
      LearningGate.writeBatch(graft.ops.Similarity.appendToIvfPqIndex(batch,
        spark.read.parquet(s"$root/centroids"),
        spark.read.parquet(s"$root/codebooks")),
        batchId, s"$root/codes_appended")
    }

  /** [[annArrivals]] through the deployed IVFADC route: per micro-batch,
    * cell probing + table-driven ADC + shortlist against the persisted
    * index, exact re-rank against `corpusPath`'s full vectors (IVFADC's
    * vectors-on-disk access pattern — the index stores codes, the corpus
    * table stores the few full rows the re-rank touches; appended vectors
    * are re-rankable once their full rows land in the corpus table, the
    * same ingest step that feeds the append stream). Geometry follows
    * the index; versioned containers resolve per batch, so a rebuild —
    * including a grown coarse quantizer — routes queries next batch.
    */
  def annIvfArrivals(arrivals: DataFrame, indexPath: String,
      corpusPath: String, outPath: String, checkpoint: String,
      k: Int = 3, nprobe: Int = 3): StreamingQuery =
    eachBatch(arrivals, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val root = graft.ops.Similarity.resolvePqIndexPath(spark, indexPath)
      val centroids = spark.read.parquet(s"$root/centroids")
      val g = centroids.select(col("n_cells"), col("subspaces"),
        col("codebook_size"), col("dims")).head()
      LearningGate.writeBatch(graft.ops.Similarity.topkIvfPqAgainstIndex(
        batch, spark.read.parquet(corpusPath),
        centroids, spark.read.parquet(s"$root/codebooks"),
        graft.ops.Similarity.readPqCodes(spark, root), k,
        g.getInt(0), g.getInt(1), g.getInt(2), nprobe, g.getInt(3)),
        batchId, outPath)
    }

  /** Batch-shared maillog ingest body. `batch` needs columns
    * (content binary, modificationTime timestamp).
    *
    * One action reads the batch: a projection of [[MailParser.parseRaw]]
    * collects each message's parsed headers (and, for a dead letter, its
    * leading bytes) to the driver; the bodies stay on the executors. Every
    * row of the batch is built on the driver from there, as the contacts
    * dimension already is: a mail micro-batch has one row per file, and the
    * file-stream source already lists every file of it on the driver.
    *
    * Ids: message ids are `maxMsgId + rank` over the batch's parsed
    * messages in Spark's ascending order of (modificationTime,
    * sender_email), ties broken by the md5 of the raw message, so a
    * redelivery gives every message the same id. The sender and each
    * recipient map to contact ids by SQL `=` on (realname, email_address).
    *
    * Idempotence: message ids continue from the max id of OTHER batches
    * (`batch_id != batchId`), and the inbox/tocc writes overwrite this batch's
    * own partitions — so a redelivered micro-batch reproduces the same ids and
    * row counts instead of appending duplicates. Contacts are replay-safe:
    * the upsert inserts only pairs the dimension lacks, and a redelivery
    * whose pairs are all known commits nothing.
    *
    * Every job runs under a `graft:ingest/mail/<step>/batch=<id>` description
    * (steps `parse`, `contacts`, `dead_letters`, `ids`, `inbox`, `tocc`).
    */
  def ingestMailBatch(batch: DataFrame, warehouse: Warehouse,
      batchId: Long = 0L): Unit = {
    val spark = batch.sparkSession
    val step = new Steps(spark, "ingest/mail", batchId)
    val messages = step("parse")(MailParser.parseRaw(batch).select(
      unix_micros(col("modificationTime")), col("parsed"), md5(col("content")),
      when(col("parsed._7").isNotNull, MailParser.deadLine)).collect())
    val (dead, parsed) = messages.partition(!_.getStruct(1).isNullAt(6))

    // reference parity: a message process_input would raise on is NOT
    // ingested (maillog.py:159-164) — it lands in dead_letters instead
    if (dead.nonEmpty) step("dead_letters")(Ingest.writeDeadLetters(
      MailParser.deadLetters(rows(spark,
        dead.map(m => Row(m.getString(3), m.getStruct(1).getString(6))),
        "line STRING, error_type STRING")),
      warehouse, "mail", batchId))

    // parsed struct: _1 subject, _2 sender_name, _3 sender_email, _4 date,
    // _5 recipients as (realname, email) structs, _6 size
    val pairs = parsed.map(_.getStruct(1)).flatMap(m =>
      Row(m.getString(1), m.getString(2)) +:
        m.getSeq[Row](4).map(r => Row(r.getString(0), r.getString(1))))
    val contacts = step("contacts")(Ingest.upsertContacts(spark, pairs.toSeq,
      warehouse, Ingest.ContactsLockTimeoutMs, Ingest.ContactsMaxAttempts))
    // SQL `=`: a stored pair with a NULL field matches nothing, and a NULL
    // lookup key finds no entry here
    val contactId = contacts.collect {
      case c if !c.isNullAt(1) && !c.isNullAt(2) =>
        (c.getString(1), c.getString(2)) -> c.getLong(0)
    }.toMap

    val maxMsgId = step("ids") {
      // a fold is one job; a global max aggregate is two under AQE (its
      // exchange runs as a stage of its own). Message ids start at 1.
      if (tableExists(spark, warehouse.path("inbox")))
        warehouse.inboxIds(spark).filter(col("batch_id") =!= batchId)
          .select(col("id")).rdd.map(_.getLong(0)).fold(0L)(math.max)
      else 0L
    }
    // Spark's ascending order, NULLs first, of (mtime, sender_email, md5)
    val str = Ordering.Option(graft.functions.F.utf8Order)
    val ranked = parsed
      .sortBy(m => (Option(m.getAs[java.lang.Long](0)).map(_.longValue),
        Option(m.getStruct(1).getString(2)), Option(m.getString(2))))(
        Ordering.Tuple3(Ordering.Option(Ordering.Long), str, str))
      .map(_.getStruct(1)).zipWithIndex
      .map { case (m, i) => (maxMsgId + i + 1, m) }

    // arrival timestamp = now() at insert (maillog.py:97)
    val inbox = ranked.flatMap { case (id, m) =>
      contactId.get((m.getString(1), m.getString(2))).map(sender =>
        Row(id, m.getString(0), sender, m.getLong(5), m.get(3)))
    }
    step("inbox")(Ingest.appendEvents(
      rows(spark, inbox, "id BIGINT NOT NULL, subject STRING, " +
        "sender_id BIGINT, size BIGINT, date TIMESTAMP")
        .select(col("id"), current_timestamp().as("timestamp"),
          substring(col("subject"), 1, 2048).as("subject"), col("sender_id"),
          col("size"), col("date")),
      warehouse, "inbox", batchId))

    // per-message first-occurrence recipient dedup (maillog.py:88-94) — the
    // contact-id identity dedup maps to distinct contact ids per message.
    val tocc = ranked.flatMap { case (id, m) =>
      m.getSeq[Row](4).flatMap(r => contactId.get((r.getString(0), r.getString(1))))
        .distinct.map(Row(id, _))
    }
    // one file per batch: a driver-side frame has a partition per core
    step("tocc")(Ingest.idempotentAppend(
      rows(spark, tocc, "msg_id BIGINT NOT NULL, contact_id BIGINT").coalesce(1),
      warehouse, "inbox_tocc", batchId))
  }

  /** A driver-side frame of `data` under the schema `ddl`. */
  private def rows(spark: SparkSession, data: Array[Row], ddl: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(data: _*), StructType.fromDDL(ddl))

  private def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
