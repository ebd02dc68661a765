package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Barrier.BarrierOps

/** Deduplication operators for large-scale text corpora — the training-data
  * pipeline extensions beyond the reference's surface (SURVEY §7.1-9).
  *
  * Scale design: every operator is a pure declarative plan — shingle explosion and
  * hashing are codegen'd builtins (no UDFs in the hot path), the candidate
  * generation joins are equi-joins on hash/band keys (shuffle-partitionable by
  * key, no cross joins), and verification runs only on candidate pairs. At 100 TB
  * the gram→doc inverted index is the only large shuffle; frequent-gram capping
  * (`maxDocFreq`) bounds the worst-case join fan-out exactly like production
  * near-dup pipelines.
  */
object Dedup {

  /** Whitespace tokenization shared by all text ops. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingle ARRAY per doc (requires a `words` column).
    * Built with transform/filter over an index sequence so the identical
    * expression is expressible in the DuckDB oracle.
    */
  private[ops] def shingleArray(n: Int): Column = expr(
    s"""array_distinct(filter(transform(sequence(1, size(words)), i ->
          CASE WHEN i + ${n - 1} <= size(words)
               THEN ${(0 until n).map(j => s"element_at(words, i + $j)").mkString("concat_ws(' ', ", ", ", ")")}
          END), x -> x IS NOT NULL))""")

  /** Word n-gram shingles (1 row per distinct shingle per doc) — the exploded
    * inverted-index form.
    */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("words", words(col("text")))
      .select(col("doc_id"), explode(shingleArray(n)).as("gram"))

  /** Exact dedup by content hash (hash-groupBy; the canonical survivor is the
    * minimum id — deterministic and order-independent).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_id"),
        array_join(transform(array_sort(collect_set(col("doc_id"))),
          x => x.cast("string")), ",").as("doc_ids"))
      .orderBy(col("content_hash"))

  /** Exact URL-level dedup — [[exact]]'s output contract keyed by the
    * CANONICAL url instead of a content hash: crawl pipelines collapse by
    * canonical URL ([[graft.functions.UrlCanonicalize]]) before any
    * content hash is computed, because URL aliasing (case, default ports,
    * dot segments, parameter order, fragments) multiplies fetch and
    * storage cost ahead of every downstream stage. One hash-partitioned
    * aggregation on the url key — the d01 shape, no verify stage needed
    * (the key IS the identity). Unparseable URLs (null canonical form)
    * are excluded — they belong to a quarantine route, not under a
    * mangled group key.
    */
  def urlExact(urls: DataFrame): DataFrame =
    urls
      .filter(col("url").isNotNull)
      .groupBy(col("url"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_id"),
        array_join(transform(array_sort(collect_set(col("doc_id"))),
          x => x.cast("string")), ",").as("doc_ids"))
      .orderBy(col("url"))

  /** Corpus-side URL dedup index — the crawl FRONTIER: one row per
    * canonical URL with its first-seen id ([[buildCorpusIndex]]'s shape
    * for the URL modality; persisted at ingest cadence, arrivals join the
    * key instead of re-scanning the corpus). Unparseable URLs carry no
    * key and never enter the index.
    */
  def buildUrlIndex(urls: DataFrame): DataFrame =
    urls.filter(col("url").isNotNull)
      .groupBy(col("url")).agg(min(col("doc_id")).as("ex_id"))

  /** URL dedup of incoming (doc_id, raw_url) rows against a persisted
    * [[buildUrlIndex]] table: arrivals canonicalize in their own scan
    * stage ([[graft.functions.UrlCanonicalize]]) and LEFT-join the
    * frontier on the exact canonical key — the cheapest gate in the
    * incremental family (no banding, no verify stage: the key IS the
    * identity). Verdicts: `dup` (match_id = first-seen id), `new`, or
    * `invalid` for an unparseable URL (which must be quarantined, never
    * admitted as a novel fetch — the media path's `unhashable`
    * discipline). The canonical url rides along for audit and for the
    * learning stream's frontier delta.
    */
  def urlDedupAgainstIndex(incoming: DataFrame, index: DataFrame): DataFrame =
    incoming
      .select(col("doc_id"),
        // Staged: the left-join's null/verdict predicates must test the
        // PROJECTED url, not push through and re-derive the canonicalize
        // (in fixture plans the inlined raw_url synthesis makes that a
        // ~14 KB re-derivation per conjunct)
        graft.functions.Staged(
          graft.functions.UrlCanonicalize(col("raw_url"))).as("url"))
      .join(index, Seq("url"), "left")
      .select(col("doc_id"),
        when(col("url").isNull, "invalid")
          .when(col("ex_id").isNotNull, "dup")
          .otherwise("new").as("verdict"),
        col("ex_id").as("match_id"), col("url"))
      .orderBy(col("doc_id"))

  /** Canonical-URL token bigrams — the d33 gram space as a reusable
    * projection: tokens are the separator-class split of the CANONICAL
    * form (`[:/?&=]+` → scheme, host, path segments, param keys/values),
    * grams their distinct bigrams ([[shingles]] n = 2; a URL has ≤ ~12
    * tokens, so ≤ ~11 gram rows per URL). Input must carry (id, url);
    * null urls (the quarantine class) produce no rows.
    */
  def urlGrams(urls: DataFrame, idCol: String): DataFrame =
    shingles(
      urls.filter(col("url").isNotNull)
        .select(col(idCol).as("doc_id"),
          trim(regexp_replace(col("url"), "[:/?&=]+", " ")).as("text")),
      n = 2).withColumnRenamed("doc_id", idCol)

  /** Corpus-side NEAR-URL index — [[buildUrlIndex]]'s shape for the d33
    * gram space: one (gram, ex_id) row per distinct token bigram of each
    * frontier URL. Persisted at ingest cadence; arrivals band-join the
    * gram key, so a crawl that mutates one query param per fetch (which
    * defeats [[urlDedupAgainstIndex]]'s exact key) still collides on the
    * shared resource grams.
    */
  def buildUrlGramIndex(urls: DataFrame): DataFrame =
    urlGrams(urls.groupBy(col("url")).agg(min(col("doc_id")).as("ex_id")),
      "ex_id").select(col("gram"), col("ex_id"))

  /** NEAR-URL dedup of incoming (doc_id, raw_url) rows against a persisted
    * [[buildUrlGramIndex]] table — the d33 banded machinery as an
    * incremental gate: arrivals canonicalize and gram in their own scan
    * stage, the index side is df-capped (a gram held by more than
    * `maxDocFreq` frontier URLs is dropped from BOTH sides before the
    * candidate join — boilerplate grams like `https host` carry no
    * signal and would expand the join quadratically), candidates come
    * from the gram equi-join, and exact Jaccard over the surviving gram
    * sets verifies (O(1) per pair at ≤ ~12 tokens/URL — the d02
    * quadratic-verify objection does not apply, d33's argument). The
    * best match per arrival is deterministic: highest Jaccard, then
    * lowest ex_id (both engines IEEE-divide the same exact integers, so
    * the double order is reproducible). Verdicts: `dup` (match_id +
    * jaccard), `new`, `invalid` (unparseable — quarantined, never a
    * candidate). Sizes are post-cap on both sides, mirroring
    * [[ngramJaccard]]'s contract.
    *
    * Scale: the df table is one aggregation over the index's gram column
    * — the same shuffle class as the candidate join itself, priced once
    * per micro-batch; everything else is equi-joins keyed on gram or id.
    */
  def urlNearDedupAgainstIndex(incoming: DataFrame, index: DataFrame,
      minJaccard: Double = 0.4, maxDocFreq: Long = 64): DataFrame = {
    // barriered (r19): arr is consumed by THREE independent subtrees — the
    // gram branch (aK), the per-arrival size aggregate (aSz via aK), and
    // the final verdict join — and Spark re-executes each subtree, so the
    // canonicalize (and in fixture plans the raw-URL synthesis beneath it)
    // ran once per consumer. The Staged fence pins one evaluation per ROW
    // within a subtree; the barrier pins one evaluation per QUERY. The
    // materialized table is batch-sized (doc_id + url).
    val arr = incoming.select(col("doc_id"),
      // Staged: same single-evaluation contract as [[urlDedupAgainstIndex]]
      // — arr feeds both the gram branch (whose null filter would push
      // through) and the final verdict join
      graft.functions.Staged(
        graft.functions.UrlCanonicalize(col("raw_url"))).as("url"))
      .barriered
    val hot = index.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("gram"))
    val idxK = index.join(hot, Seq("gram"), "left_anti")
    val idxSz = idxK.groupBy(col("ex_id")).agg(count(lit(1)).as("n2"))
    val aK = urlGrams(arr, "doc_id").join(hot, Seq("gram"), "left_anti")
    val aSz = aK.groupBy(col("doc_id")).agg(count(lit(1)).as("n1"))
    val best = aK.join(idxK, Seq("gram"))
      .groupBy(col("doc_id"), col("ex_id")).agg(count(lit(1)).as("inter"))
      .join(aSz, Seq("doc_id"))
      .join(idxSz, Seq("ex_id"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("jaccard").desc, col("ex_id").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("ex_id"), col("jaccard"))
    arr.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("url").isNull, "invalid")
          .when(col("ex_id").isNotNull, "dup")
          .otherwise("new").as("verdict"),
        col("ex_id").as("match_id"), col("jaccard"), col("url"))
      .orderBy(col("doc_id"))
  }

  /** Distinct layout-free track-descriptor tokens per decoded video —
    * d36's token space ([[graft.functions.F.videoDescriptorText]]) as
    * n = 1 [[shingles]] over the sorted space-joined descriptor text.
    */
  private def videoGrams(videos: DataFrame, idCol: String): DataFrame =
    shingles(videos.filter(col("text").isNotNull)
      .select(col(idCol).as("doc_id"), col("text")), n = 1)
      .withColumnRenamed("doc_id", idCol)

  /** Corpus-side VIDEO descriptor index — [[buildUrlGramIndex]]'s shape on
    * d36's token space: identical descriptor SETS collapse to the
    * first-seen asset (the text is the sorted token join, so set-equal ⇔
    * text-equal), then one (gram, ex_id) row per distinct per-track
    * descriptor of each first-seen inventory. Persisted at ingest cadence
    * (e09's feature root already carries the descriptor table); arrivals
    * equi-join the gram key, so a re-muxed or trimmed re-upload collides
    * on the shared track inventory no matter how its bytes were
    * repackaged.
    */
  def buildVideoGramIndex(videos: DataFrame): DataFrame =
    videoGrams(videos.filter(col("text").isNotNull)
      .groupBy(col("text")).agg(min(col("doc_id")).as("ex_id")), "ex_id")
      .select(col("gram"), col("ex_id"))

  /** NEAR-VIDEO dedup of DECODED arrivals (doc_id, text — NULL text = the
    * walker refused the container) against a persisted
    * [[buildVideoGramIndex]] table: [[urlNearDedupAgainstIndex]]'s
    * machinery on d36's token space — the index side df-capped (a
    * descriptor held by more than `maxDocFreq` corpus videos is dropped
    * from BOTH sides before the candidate join), candidates from the
    * gram equi-join, exact Jaccard over the surviving token sets,
    * deterministic best match (jaccard DESC, ex_id ASC). Verdicts: `dup`
    * (match_id + jaccard), `new`, `invalid` (refused decode —
    * quarantined, never a candidate). A re-mux arrives at jaccard 1.0, a
    * trimmed re-mux at (nt−1)/nt — both above the 0.4 gate at ≤ 3
    * tracks/asset. Callers fence the decode ([[graft.functions.Staged]])
    * so the NULL-text verdict branch cannot push below it and re-derive
    * the walk.
    *
    * Scale: token sets are tiny (one token per track), every join an
    * equi-join keyed on gram or id, and the df table is one aggregation
    * at the candidate join's own shuffle class — the URL gate's argument
    * verbatim.
    */
  def videoNearDedupAgainstIndex(incoming: DataFrame, index: DataFrame,
      minJaccard: Double = 0.4, maxDocFreq: Long = 64): DataFrame = {
    // barriered (r19): incoming is consumed by the gram branch (aK → aSz →
    // best) and the final verdict join — without the barrier each consumer
    // re-ran the arrival MP4 decode (and at bench scale the container
    // synthesis) that produced `text`. Batch-sized (doc_id + text).
    val inc = incoming.barriered
    val hot = index.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("gram"))
    val idxK = index.join(hot, Seq("gram"), "left_anti")
    val idxSz = idxK.groupBy(col("ex_id")).agg(count(lit(1)).as("n2"))
    val aK = videoGrams(inc, "doc_id").join(hot, Seq("gram"), "left_anti")
    val aSz = aK.groupBy(col("doc_id")).agg(count(lit(1)).as("n1"))
    val best = aK.join(idxK, Seq("gram"))
      .groupBy(col("doc_id"), col("ex_id")).agg(count(lit(1)).as("inter"))
      .join(aSz, Seq("doc_id"))
      .join(idxSz, Seq("ex_id"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("jaccard").desc, col("ex_id").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("ex_id"), col("jaccard"))
    inc.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("text").isNull, "invalid")
          .when(col("ex_id").isNotNull, "dup")
          .otherwise("new").as("verdict"),
        col("ex_id").as("match_id"), col("jaccard"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    * gram-equijoin → per-pair intersection counts → |A∩B| / |A∪B|.
    * `maxDocFreq` drops grams shared by more than that many docs (bounds join
    * fan-out; standard at scale — a gram in half the corpus carries no signal).
    */
  def ngramJaccard(docs: DataFrame, n: Int, minJaccard: Double,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    // the shingle index feeds sizes + both join sides — materialize once
    val tri = shingles(docs, n).cache()
    val filtered =
      if (maxDocFreq == Long.MaxValue) tri
      else {
        val freq = tri.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq)
        tri.join(freq.select("gram"), Seq("gram"))
      }
    val sizes = filtered.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Pair generation: ONE shuffle of the inverted index (gram → sorted doc
    // list), then per-gram pair combinations generated locally — the
    // self-join formulation shuffled the index twice (both join sides) to
    // produce the same pair multiset. The df cap bounds each list at
    // maxDocFreq, so the local expansion is ≤ df²/2 pairs per gram; the pair
    // count aggregation partial-aggregates map-side before its shuffle.
    val lists = filtered.groupBy("gram")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val inter = lists
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids)), i ->
             transform(slice(ids, i + 1, size(ids) - i), j ->
               struct(element_at(ids, i) AS doc1, j AS doc2))))""")).as("p"))
      .groupBy(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n", "n2"), "doc2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc1"), col("doc2"), col("inter"), col("n1"), col("n2"), col("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** MinHash + LSH near-dup detection: `numHashes` hash functions (min of md5
    * over salted shingles — string min ≡ numeric min for fixed-width hex),
    * banded into numHashes/bandSize band signatures; docs sharing any band
    * signature become candidates; candidates are verified with exact
    * Jaccard ≥ `verifyThreshold`.
    *
    * Scale: the signature matrix is computed COLUMN-WISE — one aggregation pass
    * producing `numHashes` min columns per doc (no (doc × gram × hash) row
    * explosion, so the only large shuffle is |docs| rows wide, not
    * |grams|·k). Candidate generation is one equi-join per band on its
    * signature; verification touches candidate pairs only. This is the
    * canonical shape of corpus-scale fuzzy dedup.
    *
    * `maxBandFreq` caps the band self-join's fan-out: a (band, signature)
    * bucket holding more than that many docs is DROPPED before candidate
    * generation — without it, a degenerate hot band (near-constant docs,
    * boilerplate, adversarial shingles) expands to df²/2 pairs and the
    * "sublinear by banding" claim dies on exactly the corpora that need
    * dedup most. The recall trade is the same as [[ngramJaccard]]'s
    * `maxDocFreq` and the media index's band cap: members of a mega-bucket
    * lose THAT band's candidacy but remain discoverable through their
    * other bands (true near-dups agree on many bands; a bucket so hot it
    * exceeds the cap is dominated by false-positive band collisions or by
    * an exact-dup cluster better served by [[exact]]).
    */
  def minhashLsh(docs: DataFrame, n: Int = 3, numHashes: Int = 8,
      bandSize: Int = 4, verifyThreshold: Double = 0.1,
      maxBandFreq: Long = 64): DataFrame = {
    require(numHashes % bandSize == 0)
    // exploded shingle index — needed only for exact-Jaccard verification
    val tri = shingles(docs, n).cache()
    // signature matrix: one native per-row expression over the shingle ARRAY —
    // no explode, no |grams|-row aggregation (graft.functions.MinHashBandSigs)
    // NB: no size()>0 filter here — a pushed-down filter would recompute the
    // shingle pipeline below the scan's partitioning; gram-less docs instead
    // yield an empty sigs array (and so no band rows).
    val sg = docs
      .withColumn("words", words(col("text")))
      .select(col("doc_id"), shingleArray(n).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n"),
        graft.functions.MinHashBandSigs(col("grams"), numHashes, bandSize)
          .as("sigs"))
      .cache() // tiny (1 row/doc); consumed by both join sides + sizes
    val allBandRows = sg.select(col("doc_id"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    // band-frequency cap (scaladoc above): one |bands|-wide aggregation +
    // a semi-join — both shuffle on the same (band, sig) key the candidate
    // self-join uses, so AQE coalesces them into the existing exchange
    val bandRows =
      if (maxBandFreq == Long.MaxValue) allBandRows
      else allBandRows.join(
        allBandRows.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("bf")).filter(col("bf") <= maxBandFreq)
          .select(col("band"), col("sig")),
        Seq("band", "sig"), "left_semi")
    val a = bandRows.select(col("doc_id").as("doc1"), col("band"), col("sig"))
    val b = bandRows.select(col("doc_id").as("doc2"), col("band"), col("sig"))
    val cand = a.join(b, Seq("band", "sig"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"))
      .distinct()
    // verify candidates with exact Jaccard over the shared shingle index.
    // The candidate pair list grows with the corpus (every true near-dup plus
    // every band false positive), so it is NOT broadcast — the doc1 equi-join
    // shuffles both sides by key like any join, and the gram equi-join below
    // shuffles by gram like any inverted-index join. (AQE may still choose a
    // runtime broadcast when the pair list is actually small — a per-run
    // decision, not a plan-time assumption that OOMs at 100 TB.)
    val sizes = sg.select(col("doc_id"), col("n"))
    val t1 = tri.withColumnRenamed("doc_id", "doc1")
    val t2 = tri.withColumnRenamed("doc_id", "doc2").withColumnRenamed("gram", "gram2")
    val expanded = cand.join(t1, "doc1")
    expanded
      .join(t2, col("gram") === col("gram2") && t2("doc2") === expanded("doc2"))
      .groupBy(expanded("doc1"), expanded("doc2"))
      .agg(count(lit(1)).as("inter"))
      // sizes is 1 row per corpus doc — same unbounded-broadcast hazard as
      // the pair list; both lookups stay shuffled equi-joins
      .join(sizes.withColumnRenamed("doc_id", "doc1")
        .withColumnRenamed("n", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2")
        .withColumnRenamed("n", "n2"), "doc2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** 16-bit SimHash over word multiset: each word contributes ±1 per bit position
    * of the first 16 bits of md5(word); the sign of the per-bit sum is the
    * fingerprint bit (ties → 1). Docs sharing a fingerprint are near-dup
    * candidates (`bucket_size`).
    *
    * Computed by the native codegen'd [[graft.functions.SimHash16]] expression —
    * one per-row map in the scan stage, zero shuffles until the bucket count
    * (vs. the naive words×bits explode + two aggregations). The oracle
    * implements the same arithmetic in SQL; results are byte-identical.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.SimHash16(col("text")).as("simhash"))
      .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .orderBy(col("doc_id"))

  /** SimHash near-dup PAIRS with Hamming-distance blocking ([[simhash]]
    * buckets only identical fingerprints; real near-dups differ in a few
    * bits): the 16-bit fingerprint is sliced into `maxHamming + 1`
    * contiguous bands, and by pigeonhole any pair within Hamming ≤
    * `maxHamming` matches EXACTLY on at least one band — so candidate
    * generation is an equi-join on (band index, band bits), shuffled by
    * band value, never all-pairs. Candidates are verified by the exact
    * per-position Hamming distance over the 16-char bitstring (identical
    * arithmetic in the oracle).
    *
    * SCALE NOTE: 16-bit bands are 5-6 bits wide — at most 64 blocking
    * buckets per band, so candidate volume degrades toward all-pairs/64 on
    * a large corpus (measured: ≥ 14 s at sf0.1 on the self-similar test
    * corpus vs 0.8 s for the 64-bit form — excluded from the bench headline
    * for the same reason as the all-pairs d05 baseline). This variant is
    * the oracle-friendly demonstration; the corpus-scale path is
    * [[simhashNearDup64]] (4×16-bit bands = 65536 buckets per band).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16)
    val bands = maxHamming + 1
    // contiguous slices of the 16 bits, sizes as equal as possible
    val bounds: Seq[(Int, Int)] = {
      val base = 16 / bands
      val extra = 16 % bands
      val sizes = Seq.tabulate(bands)(i => base + (if (i < extra) 1 else 0))
      sizes.scanLeft(1)(_ + _).zip(sizes).take(bands)
    }
    val sh = docs.select(col("doc_id"),
      graft.functions.SimHash16(col("text")).as("sh"))
    val bandRows = sh.select(col("doc_id"), col("sh"),
      posexplode(array(bounds.map { case (start, len) =>
        substring(col("sh"), start, len)
      }: _*)).as(Seq("band", "bits")))
    val a = bandRows.select(col("doc_id").as("doc1"), col("sh").as("sh1"),
      col("band"), col("bits"))
    val b = bandRows.select(col("doc_id").as("doc2"), col("sh").as("sh2"),
      col("band"), col("bits"))
    val cand = a.join(b, Seq("band", "bits"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("sh1"), col("doc2"), col("sh2"))
      .distinct() // a pair may collide in several bands — fingerprints are
                  // 16 chars, so carrying them through the dedup is cheap
    val hamming = (1 to 16).map(i =>
      when(substring(col("sh1"), i, 1) =!= substring(col("sh2"), i, 1), 1)
        .otherwise(0)).reduce(_ + _)
    cand
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc1"), col("doc2"), col("hamming"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Corpus-scale SimHash near-dup pairs: 64-bit fingerprints (native
    * [[graft.functions.SimHash64]], one long per doc) banded into four
    * 16-bit slices — 65536 blocking buckets per band, the width production
    * near-dup pipelines run. Pigeonhole guarantees exact recall for
    * Hamming ≤ 3 (= bands − 1); candidates come from per-band equi-joins on
    * the 16-bit key and verify with one `bit_count(xor)` — the whole
    * pipeline shuffles (band, key, doc_id, fingerprint) = 3-4 longs per
    * row, codegen end to end.
    */
  /** The four 16-bit band keys of a [[graft.functions.SimHash64]] long —
    * the blocking contract the d08 oracle mirrors bit-for-bit; shared by the
    * batch and streaming 64-bit paths so they cannot drift.
    */
  private def band64Keys(sh: Column): Seq[Column] =
    (0 until 4).map(k =>
      shiftrightunsigned(sh, 48 - 16 * k).bitwiseAND(lit(0xffffL)))

  def simhashNearDup64(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4 fixed 16-bit bands guarantee recall only for hamming <= 3")
    val sh = docs.select(col("doc_id"),
      graft.functions.SimHash64(col("text")).as("sh"))
    val bandRows = sh.select(col("doc_id"), col("sh"),
      posexplode(array(band64Keys(col("sh")): _*)).as(Seq("band", "bits")))
    val a = bandRows.select(col("doc_id").as("doc1"), col("sh").as("sh1"),
      col("band"), col("bits"))
    val b = bandRows.select(col("doc_id").as("doc2"), col("sh").as("sh2"),
      col("band"), col("bits"))
    val cand = a.join(b, Seq("band", "bits"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("sh1"), col("doc2"), col("sh2"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc1"), col("doc2"), col("hamming"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** INCREMENTAL dedup — the production arrival shape: deduplicate an
    * incoming batch AGAINST an existing corpus without re-clustering the
    * world. Exact matches by content hash; near matches by the d08 SimHash
    * banding restricted to CROSS-side (incoming × existing) candidate pairs
    * — the existing side's band index is exactly what a production pipeline
    * keeps materialized between arrivals. Verdict precedence: exact > near >
    * new; `match_id` is the minimum matching existing doc (deterministic).
    *
    * Scale: both joins are equi-joins (content hash, band key); the incoming
    * batch is typically small relative to the corpus so its side is
    * broadcast (at plan time when its estimate is small, else by AQE at
    * runtime) — no hint is planted, nothing is all-pairs, and the
    * per-band fan-out is bounded by the incoming side's bucket occupancy,
    * not corpus × corpus. Ordered by `doc_id` (the d11 result order).
    */
  def dedupAgainst(incoming: DataFrame, existing: DataFrame,
      maxHamming: Int = 3): DataFrame =
    dedupAgainstIndex(incoming, buildCorpusIndex(existing), maxHamming)
      .orderBy(col("doc_id"))

  /** Corpus-side DEDUP INDEX: one compact row per document — the md5
    * content hash for the exact path and the packed 64-bit SimHash for the
    * near path (band keys derive in-plan from the long, so the persisted
    * index is three columns, never four rows per doc). Built once at
    * ingest/compaction cadence and persisted next to the warehouse; a
    * stream of arrivals joins THIS instead of re-hashing the corpus text
    * every micro-batch — at 100 TB the difference between scanning ~24
    * bytes/doc and re-reading the corpus.
    */
  def buildCorpusIndex(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id").as("ex_id"), md5(col("text")).as("h"),
      graft.functions.SimHash64(col("text")).as("ex_sh"))

  /** [[dedupAgainst]] against a prebuilt [[buildCorpusIndex]] table: the
    * single implementation both the batch and the per-micro-batch streaming
    * paths run, so their verdicts cannot drift. One row per `incoming` row,
    * in no particular order: callers that present the table sort it
    * ([[dedupAgainst]]); the gates write it to parquet, where order is
    * never used.
    *
    * Both tiers come from ONE band join, so the index is scanned once:
    * `exact_id` is the least `ex_id` among the band candidates whose `h`
    * equals the arrival's md5, `near_id` the least within `maxHamming`.
    * This is exact, not an approximation, for every index
    * [[buildCorpusIndex]] writes: equal md5 means equal text (up to an MD5
    * collision), equal text means an equal SimHash-64, and equal
    * fingerprints collide in all four bands, so every exact match is a band
    * candidate. A null text has a null `h` and a null `sh` on both sides and
    * matches nothing. An index whose `h` and `ex_sh` were hashed from
    * different texts would break the invariant.
    */
  def dedupAgainstIndex(incoming: DataFrame, index: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4 fixed 16-bit bands guarantee recall only for hamming <= 3")
    val inb = incoming
      .select(col("doc_id"), md5(col("text")).as("h"),
        graft.functions.SimHash64(col("text")).as("sh"))
      .select(col("doc_id"), col("h"), col("sh"),
        posexplode(array(band64Keys(col("sh")): _*)).as(Seq("band", "bits")))
    val exb = index.select(col("ex_id"), col("h").as("ex_h"), col("ex_sh"))
      .select(col("ex_id"), col("ex_h"), col("ex_sh"),
        posexplode(array(band64Keys(col("ex_sh")): _*)).as(Seq("band", "bits")))
    // a pair colliding in several bands repeats; min() does not mind
    val hits = inb.join(exb, Seq("band", "bits"))
      .groupBy(col("doc_id")).agg(
        min(when(col("h") === col("ex_h"), col("ex_id"))).as("exact_id"),
        min(when(bit_count(col("sh").bitwiseXOR(col("ex_sh"))) <= maxHamming,
          col("ex_id"))).as("near_id"))
    incoming.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
  }

  /** [[readWithLearned]] for the text corpus index ([[buildCorpusIndex]]
    * base + the text learning gate's delta).
    */
  def readCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      rootPath: String, beforeBatch: Long = Long.MaxValue): DataFrame =
    readWithLearned(spark, rootPath, beforeBatch)

  /** Combined index of a SELF-LEARNING root
    * ([[graft.streaming.LearningGate]]), for any index schema: the
    * ingest-built base (`<root>/base`) plus the gate's own learned rows
    * (`<root>/learned/batch_id=N` and compacted generations), restricted
    * to batches BELOW `beforeBatch`. The bound is the replay-safety
    * contract: a redelivered micro-batch must never see its own learned
    * rows (every arrival would match itself), so batch b reads strictly
    * earlier knowledge — bitwise the same verdicts on every replay. The
    * gram index stays ONE-ROW-PER-GRAM under this union
    * ([[spanCheckAgainstIndex]]'s run merging depends on it) because its
    * learning stream writes only first-seen grams.
    *
    * Every part is read pinned ([[IndexFs.readPinned]]): its data schema
    * comes from one leaf's footer, so the read runs no schema-inference
    * job; the live side's `batch_id` is still discovered from the paths.
    */
  def readWithLearned(spark: org.apache.spark.sql.SparkSession,
      rootPath: String, beforeBatch: Long = Long.MaxValue): DataFrame =
    (IndexFs.readPinned(spark, s"$rootPath/base") +:
      IndexFs.Learned.readParts(spark, rootPath, Some(beforeBatch)))
      .reduce(_ unionByName _)

  /** COMPACT a self-learning index root's `learned/` delta — the
    * batch-per-partition layout every learning stream writes
    * ([[graft.streaming.LearningGate]] and the substring check) grows
    * one directory per micro-batch forever; this folds the partitions at
    * or below the current horizon into one consolidated
    * `learned_g<G+1>/` GENERATION ([[IndexFs.Layout.fold]]), `batch_id`
    * retained as a column so the `beforeBatch` replay contract
    * ([[readCorpusIndex]]) keeps holding bit-for-bit across the flip — an
    * in-flight stream's redelivered batch still sees knowledge STRICTLY
    * below itself, compacted or not. Works on any learned root — gram,
    * content-hash, embedding, media, or the sem members subtree — because
    * the fold never looks at the row schema. Returns the committed
    * generation id (0 while nothing is learned).
    */
  def compactLearnedDelta(spark: org.apache.spark.sql.SparkSession,
      rootPath: String, lockTimeoutMs: Long = 10 * 60 * 1000L): Long =
    IndexFs.Learned.fold(spark, rootPath, lockTimeoutMs)

  /** Corpus-side MEDIA dedup index: one row per asset with its perceptual
    * hash (a 64-char bitstring from [[graft.functions.PpmDHash]] /
    * [[graft.functions.WavDHash]]) — the media analog of
    * [[buildCorpusIndex]], built at ingest cadence and persisted so
    * arrivals join hashes instead of re-decoding the corpus.
    */
  def buildMediaIndex(assets: DataFrame, hash: Column): DataFrame =
    assets.select(col("asset_id").as("ex_id"), hash.as("dhash"))
      .filter(col("dhash").isNotNull)

  /** Corpus-side EMBEDDING dedup index — the semantic analog of
    * [[buildCorpusIndex]]/[[buildMediaIndex]], completing the incremental
    * family across text, media, and embeddings: one row per vector with its
    * hyperplane-LSH bucket precomputed, so arrivals join a bucket key
    * instead of scoring the corpus. Persisted at ingest/compaction cadence.
    * The `planes` value is persisted as a column: a bucket key is only
    * meaningful under the planes that produced it, and a reader bucketing
    * its arrivals with a different value would silently match nothing —
    * [[embedDedupAgainstIndex]] validates it at read time instead. The
    * coefficient-FAMILY version rides alongside (`hp_family`,
    * [[graft.functions.HyperplaneBucket.Family]]): matching geometry under
    * different planes is the one mismatch the planes/dims columns cannot
    * catch, and it too would silently report every arrival `new`.
    */
  def buildEmbedIndex(corpus: DataFrame, planes: Int = 4,
      dims: Int = 64): DataFrame =
    corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("ex_id"), col("embedding").as("ex_e"),
        Similarity.hyperplaneBucket("embedding", planes, dims).as("bucket"),
        lit(planes).as("planes"),
        lit(dims).as("dims"),
        lit(graft.functions.HyperplaneBucket.Family).as("hp_family"))

  /** Semantic dedup of incoming vectors against a persisted
    * [[buildEmbedIndex]] table: candidates are same-bucket pairs (the d06
    * blocking — an equi-join on the bucket key, never all-pairs), verified
    * by exact cosine ≥ `minCosine`; the verdict per arrival is `near`
    * (best match by (cosine desc, ex_id asc)), `new`, or `invalid` for a
    * null/wrong-dimension embedding (which must not pass as novel content
    * — the media path's `unhashable` discipline). No `exact` tier: float
    * cosine of even an identical vector is not reliably 1.0, and a
    * byte-identity claim belongs to the content-hash index, not this one.
    */
  def embedDedupAgainstIndex(incoming: DataFrame, index: DataFrame,
      minCosine: Double, planes: Int = 4, dims: Int = 64): DataFrame = {
    // Guard against a planes mismatch with the persisted index: buckets from
    // different hyperplane counts never collide, so every arrival would be
    // reported `new` with no error. One-row scalar read, same class as the
    // ingest max-id lookups — not a data-plane collect. The vector width
    // follows the index's persisted dims where present (the banded route's
    // discipline); the `dims` parameter is only the legacy-index fallback —
    // legacy here means a family-stamped index missing only the dims column
    // (the coefficient-family gate below REFUSES anything older: a pre-stamp
    // index was keyed under planes this code cannot reproduce, and reading
    // it would silently zero the recall, r14 advice).
    requireFamily(index)
    if (index.columns.contains("planes"))
      index.select(col("planes")).head(1).foreach { r =>
        val ip = r.getInt(0)
        require(ip == planes,
          s"embedding index was built with planes=$ip but caller passed planes=$planes; " +
            "bucket keys would silently never match")
      }
    val idims =
      if (index.columns.contains("dims"))
        index.select(col("dims")).head(1).map(_.getInt(0)).headOption
          .getOrElse(dims)
      else dims
    val valid = incoming.filter(col("embedding").isNotNull &&
      size(col("embedding")) === idims)
    val inb = valid.select(col("vec_id"), col("embedding").as("e"),
      Similarity.hyperplaneBucket("embedding", planes, idims).as("bucket"))
    val best = inb.join(index, Seq("bucket"))
      .withColumn("cosine", Similarity.dot("e", "ex_e")
        / (sqrt(Similarity.dot("e", "e")) * sqrt(Similarity.dot("ex_e", "ex_e"))))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("vec_id"))
      .agg(min(struct(negate(col("cosine")).as("nc"), col("ex_id"))).as("m"))
      .select(col("vec_id"), col("m.ex_id").as("match_id"),
        negate(col("m.nc")).as("cosine"))
    incoming.select(col("vec_id"), col("embedding"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("embedding").isNull || size(col("embedding")) =!= idims,
          "invalid")
          .when(col("match_id").isNotNull, "near")
          .otherwise("new").as("verdict"),
        col("match_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  /** MULTI-TABLE (banded) embedding dedup index — the d03/SimHash banding
    * discipline applied to the hyperplane space, closing the recall gap a
    * SINGLE grown-plane table opens: collision probability for a pair at
    * cosine c is (1 − θ/π)^p per table, so growing p with the corpus
    * (constant bucket size — the cost fix) drives single-table recall down
    * (measured: 0.52 → 0.16 at cos 0.9 from p=4 to p=12, docs/BENCH_NOTES.md
    * r14);
    * `tables` INDEPENDENT tables of p planes each recover 1 − (1 − r)^T
    * of it for a T× index/join cost — MEASURED to match that iid
    * prediction at every geometry since the r14 distinct-plane
    * coefficient fix (docs/BENCH_NOTES.md r14: banded 0.48 vs iid 0.48 at
    * cos 0.9
    * p=12; 0.26 vs 0.26 at p=17, where the pre-r14 family's four tables
    * were bit-identical). Table t keys on plane indices [t·p, (t+1)·p)
    * of the same deterministic coefficient family (the native's `offset`
    * argument — bit positions stay 0..p−1, so no wide bucket ever
    * overflows Int). One row per (vector, table): ex_id, ex_e, band, key,
    * with the geometry persisted on every row ([[buildEmbedIndex]]'s
    * planes-column discipline — planes, tables AND dims, so a reader can
    * never band or validate queries under a different vector width than
    * the index was built at) so readers follow the index, never a
    * default.
    */
  def buildEmbedIndexBanded(corpus: DataFrame, planes: Int = 4,
      tables: Int = 4, dims: Int = 64): DataFrame = {
    val base = corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("ex_id"), col("embedding").as("ex_e"))
    base.select(base.columns.map(col) :+
      posexplode(array((0 until tables).map(t =>
        graft.functions.HyperplaneBucket(col("ex_e"), planes, dims,
          t * planes)): _*)).as(Seq("band", "key")): _*)
      .withColumn("planes", lit(planes))
      .withColumn("tables", lit(tables))
      .withColumn("dims", lit(dims))
      .withColumn("hp_family", lit(graft.functions.HyperplaneBucket.Family))
  }

  /** The coefficient-family gate shared by both embedding-index readers:
    * a persisted index is only readable under the EXACT hyperplane family
    * that keyed it ([[graft.functions.HyperplaneBucket.Family]]) — a
    * mismatched (or pre-stamp) index passes every geometry guard yet its
    * bucket keys never collide with freshly-bucketed arrivals, so every
    * verdict silently reads `new` and duplicates are admitted with no
    * error anywhere. Fail loudly and force the documented rebuild instead.
    * One-row scalar read, the planes-guard class.
    */
  private def requireFamily(index: DataFrame): Unit = {
    require(index.columns.contains("hp_family"),
      "embedding index has no hp_family column: it was persisted before the " +
        "coefficient-family stamp, so the column alone cannot say which " +
        "family keyed it — a distinct-plane (current, family " +
        s"${graft.functions.HyperplaneBucket.Family}) build is readable but " +
        "an earlier-family build would silently report every arrival 'new' " +
        "(zero dedup recall). If the index is KNOWN to be a current-family " +
        "build, stamp it with Dedup.backfillFamily and re-persist; for " +
        "unknown provenance, rebuild with buildEmbedIndex / " +
        "buildEmbedIndexBanded.")
    index.select(col("hp_family")).head(1).foreach { r =>
      val fam = if (r.isNullAt(0)) -1 else r.getInt(0)
      require(fam == graft.functions.HyperplaneBucket.Family,
        s"embedding index was keyed under hyperplane coefficient family $fam " +
          s"but this code computes family ${graft.functions.HyperplaneBucket.Family}: " +
          "bucket keys from different families never collide, so every " +
          "arrival would silently report 'new'. Rebuild the index with " +
          "buildEmbedIndex / buildEmbedIndexBanded.")
    }
  }

  /** The DOCUMENTED BACKFILL for stamp-less embedding indexes (r15 advice):
    * stamps the CURRENT coefficient family onto an index persisted before
    * the `hp_family` column existed. The caller ASSERTS provenance — the
    * stamp is only truthful for an index known to have been built with the
    * current distinct-plane coefficients (any build since the family's
    * introduction; the column, not the coefficients, is what arrived
    * later). An index of unknown provenance must be rebuilt instead:
    * stamping an earlier-family build makes the gate pass while bucket
    * keys never collide — exactly the silent zero-recall failure the gate
    * exists to prevent. Refuses an already-stamped index (a backfill over
    * a real stamp would overwrite evidence).
    */
  def backfillFamily(index: DataFrame): DataFrame = {
    require(!index.columns.contains("hp_family"),
      "backfillFamily is only for stamp-less (pre-hp_family) indexes: this " +
        "index already carries a family stamp, which must not be overwritten")
    index.withColumn("hp_family",
      lit(graft.functions.HyperplaneBucket.Family))
  }

  /** CORPUS-WIDE near-duplicate pairs through the banded grown-geometry
    * route — the scale-safe batch sibling of
    * [[graft.ops.Similarity.nearDupPairsLsh]] (d06): that route's FIXED
    * plane count keeps recall but its per-bucket population grows ∝
    * N/2^p, so the self-join trends quadratic at scale (the d17/×100
    * signature); here the caller grows `planes` with the corpus
    * (constant expected bucket size — bounded join) and `tables`
    * independent tables recover the recall the growth sheds (measured at
    * the iid 1 − (1 − r)^T prediction since the r14 distinct-plane fix,
    * docs/BENCH_NOTES.md r14). Candidates are same-(band, key) pairs under the
    * per-key df cap (mega-buckets from degenerate regions drop, the
    * [[embedDedupAgainstIndexBanded]] discipline), band multiplicity
    * collapses through a distinct on the deterministic (id1, id2,
    * cosine) triple, and every pair is exact-cosine verified. Output
    * schema is the d05/d06 contract: (id1 < id2, cosine ≥ minCosine),
    * pair-sorted.
    */
  def embedNearDupBanded(corpus: DataFrame, minCosine: Double,
      planes: Int, tables: Int = 4, maxBandFreq: Int = 64): DataFrame = {
    val idx = buildEmbedIndexBanded(corpus, planes, tables)
    val keep = idx.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxBandFreq)
      .select(col("band"), col("key"))
    val kept = idx.join(keep, Seq("band", "key"))
    val a = kept.select(col("band"), col("key"), col("ex_id").as("id1"),
      col("ex_e").as("e1"))
    val b = kept.select(col("band"), col("key"), col("ex_id").as("id2"),
      col("ex_e").as("e2"))
    a.join(b, Seq("band", "key"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", Similarity.dot("e1", "e2")
        / (sqrt(Similarity.dot("e1", "e1")) * sqrt(Similarity.dot("e2", "e2"))))
      .select(col("id1"), col("id2"), col("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
      .orderBy(col("id1"), col("id2"))
  }

  /** Semantic dedup of incoming vectors against a persisted
    * [[buildEmbedIndexBanded]] table: candidates collide in ANY of the T
    * tables (equi-join on (band, key) — never all-pairs), mega-buckets
    * from low-entropy regions are dropped per (band, key) on the index
    * side (`maxBandFreq`, the [[mediaDedupAgainstIndex]] cap), band
    * multiplicity collapses through a distinct on the deterministic
    * (vec_id, ex_id, cosine) triple exactly as the media route collapses
    * its band-duplicate Hamming rows, and the verdict tiers are
    * [[embedDedupAgainstIndex]]'s (near / new / `invalid`; best match by
    * (cosine desc, ex_id asc)). Geometry (planes per table, table count,
    * vector width) is read FROM the index — a one-row scalar read, the
    * planes-guard class — so a retrained index re-bands queries without a
    * code change; the `dims` parameter is only the fallback for a legacy
    * index persisted before the dims column existed (an index built at a
    * different width would otherwise silently mis-band every query).
    * Both readers first pass the coefficient-FAMILY gate ([[requireFamily]]):
    * an index keyed under a different (or pre-stamp) hyperplane family
    * fails loudly with a rebuild instruction instead of silently reporting
    * every arrival `new` — geometry columns cannot catch that mismatch.
    */
  def embedDedupAgainstIndexBanded(incoming: DataFrame, index: DataFrame,
      minCosine: Double, dims: Int = 64,
      maxBandFreq: Int = 64): DataFrame = {
    requireFamily(index)
    val hasDims = index.columns.contains("dims")
    val geo = index.select(col("planes") +: col("tables") +:
      (if (hasDims) Seq(col("dims")) else Nil): _*).head(1)
    require(geo.nonEmpty, "banded embedding index is empty")
    val (planes, tables) = (geo(0).getInt(0), geo(0).getInt(1))
    val idims = if (hasDims) geo(0).getInt(2) else dims
    val valid = incoming.filter(col("embedding").isNotNull &&
      size(col("embedding")) === idims)
    val vsel = valid.select(col("vec_id"), col("embedding").as("e"))
    val inb = vsel.select(vsel.columns.map(col) :+
      posexplode(array((0 until tables).map(t =>
        graft.functions.HyperplaneBucket(col("e"), planes, idims,
          t * planes)): _*)).as(Seq("band", "key")): _*)
    val keep = index.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxBandFreq)
      .select(col("band"), col("key"))
    val exb = index.join(keep, Seq("band", "key"))
    val best = inb.join(exb, Seq("band", "key"))
      .withColumn("cosine", Similarity.dot("e", "ex_e")
        / (sqrt(Similarity.dot("e", "e")) * sqrt(Similarity.dot("ex_e", "ex_e"))))
      .select(col("vec_id"), col("ex_id"), col("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
      .groupBy(col("vec_id"))
      .agg(min(struct(negate(col("cosine")).as("nc"), col("ex_id"))).as("m"))
      .select(col("vec_id"), col("m.ex_id").as("match_id"),
        negate(col("m.nc")).as("cosine"))
    incoming.select(col("vec_id"), col("embedding"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("embedding").isNull || size(col("embedding")) =!= idims,
          "invalid")
          .when(col("match_id").isNotNull, "near")
          .otherwise("new").as("verdict"),
        col("match_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  /** Perceptual dedup of incoming media against a persisted
    * [[buildMediaIndex]] table: banded candidate generation (4×16-char
    * bands, df ≤ `maxBandFreq` cap on the index side — mega-buckets from
    * low-entropy hash regions are dropped, the [[ngramJaccard]]
    * `maxDocFreq` discipline), Hamming verification via once-per-row
    * bitstring→long parsing and codegen'd bit_count(xor), and one verdict
    * per arrival: `exact` (Hamming 0), `near` (≤ maxHamming, smallest
    * (hamming, ex_id) match), or `new`. The same equi-join-only shape as
    * [[dedupAgainstIndex]] — nothing here is all-pairs and nothing
    * unbounded is broadcast.
    */
  def mediaDedupAgainstIndex(incoming: DataFrame, index: DataFrame,
      maxHamming: Int = 3, maxBandFreq: Int = 64): DataFrame = {
    def halves(df: DataFrame): DataFrame = df
      .withColumn("hi", expr("CAST(conv(substring(dhash, 1, 32), 2, 10) AS BIGINT)"))
      .withColumn("lo", expr("CAST(conv(substring(dhash, 33, 32), 2, 10) AS BIGINT)"))
    def bands(df: DataFrame): DataFrame = df.select(df.columns.map(col) :+
      posexplode(array((0 until 4).map(bd =>
        substring(col("dhash"), bd * 16 + 1, 16)): _*))
        .as(Seq("band", "bits")): _*)
    // barriered (r19): incoming is consumed by the band branch AND the
    // final verdict join — without the barrier each consumer re-ran the
    // payload hashing (and at bench scale the payload synthesis) that
    // produced `dhash`. Batch-sized (asset_id + one 64-char string).
    val inc = incoming.select(col("asset_id"), col("dhash")).barriered
    val inb = bands(halves(
      inc.filter(col("dhash").isNotNull)
        .select(col("asset_id"), col("dhash"))))
      .select(col("asset_id"), col("hi"), col("lo"), col("band"), col("bits"))
    val exbAll = bands(halves(index.select(col("ex_id"), col("dhash"))))
      .select(col("ex_id"), col("hi").as("ex_hi"), col("lo").as("ex_lo"),
        col("band"), col("bits"))
    val keep = exbAll.groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxBandFreq)
      .select(col("band"), col("bits"))
    val exb = exbAll.join(keep, Seq("band", "bits"))
    val best = inb.join(exb, Seq("band", "bits"))
      .select(col("asset_id"), col("ex_id"),
        (bit_count(col("hi").bitwiseXOR(col("ex_hi")))
          + bit_count(col("lo").bitwiseXOR(col("ex_lo"))))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("asset_id"))
      .agg(min(struct(col("hamming"), col("ex_id"))).as("m"))
      .select(col("asset_id"), col("m.ex_id").as("match_id"),
        col("m.hamming").as("hamming"))
    // a payload the hash REFUSED is not "new content" — it is unhashable,
    // and a pipeline must not admit it as a dedup survivor by default
    inc.join(best, Seq("asset_id"), "left")
      .select(col("asset_id"),
        when(col("dhash").isNull, "unhashable")
          .when(col("hamming") === 0, "exact")
          .when(col("hamming").isNotNull, "near")
          .otherwise("new").as("verdict"),
        col("match_id"), col("hamming"))
      // verdicts are batch-sized: materialize before the presentation
      // sort, whose range-partitioning SAMPLING would otherwise execute
      // the candidate join — and the payload hashing beneath it — twice
      .barriered
      .orderBy(col("asset_id"))
  }

  /** Train/eval CONTAMINATION check — the decontamination join every
    * training-data pipeline runs before a model ships: which training
    * documents contain n-grams of a held-out evaluation document, and how
    * much of each eval doc is covered. `isEval` marks the benchmark side;
    * output is one row per overlapping (train, eval) pair with the shared
    * distinct-gram count and the containment ratio (shared / eval grams —
    * the standard "fraction of the eval doc present in training" direction).
    *
    * Scale: the corpus-side shingle index shuffles ONCE by gram into the
    * equi-join; per-gram fan-out is bounded by the EVAL side's document
    * frequency, and benchmark suites are tiny relative to the corpus, so no
    * frequency cap is needed (contrast [[ngramJaccard]]'s corpus×corpus
    * self-join). The (train, eval) pair aggregation partial-aggregates
    * map-side. No broadcast assumptions: the eval id list joins by key and
    * AQE may still choose a runtime broadcast when it is actually small.
    */
  def contamination(docs: DataFrame, isEval: Column, n: Int = 5): DataFrame = {
    val tri = shingles(docs, n).cache() // feeds both sides of the join
    val evalIds = docs.filter(isEval).select(col("doc_id"))
    val te = tri.join(evalIds, "doc_id")
      .select(col("doc_id").as("eval_id"), col("gram"))
    val evalSizes = te.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("eval_grams"))
    val tt = tri.join(evalIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("train_id"), col("gram"))
    tt.join(te, "gram")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(evalSizes, "eval_id")
      .withColumn("containment",
        col("shared_grams").cast("double") / col("eval_grams").cast("double"))
      .select(col("train_id"), col("eval_id"), col("shared_grams"),
        col("eval_grams"), col("containment"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Persisted EVAL-side gram index for incremental decontamination
    * ([[contaminationGateAgainstIndex]]): one row per (eval doc, distinct
    * n-gram) — the held-out benchmark side of [[contamination]]'s join,
    * built ONCE when the eval set is frozen (eval sets change by release,
    * not by ingest batch) so arriving training documents are scored
    * against a parquet table instead of re-shingling the benchmark corpus
    * every batch. Per-eval gram totals are derivable from the index by a
    * groupBy (no second table to keep consistent).
    */
  def buildEvalGramIndex(evalDocs: DataFrame, n: Int = 8): DataFrame =
    shingles(evalDocs, n)
      .select(col("doc_id").as("eval_id"), col("gram"))

  /** Decontamination as an INGEST GATE — the incremental form of
    * [[contamination]]: each arriving training document is shingled in its
    * own batch, joined against the persisted [[buildEvalGramIndex]] table
    * on the gram key, and receives ONE verdict: `contaminated` (shares ≥
    * `minShared` distinct n-grams with some eval doc; the worst offender
    * by (containment desc, eval_id asc) is reported with its evidence
    * columns) or `clean`. This is the admit/quarantine decision a
    * training pipeline runs BEFORE a batch enters the corpus — t07/t08
    * run the same algorithm corpus-wide after the fact.
    *
    * Scale: the index shuffles once by gram at build time (amortized over
    * every batch); per batch the arrival side is batch-sized, the join is
    * a gram equi-join (AQE broadcasts small batches at runtime), and the
    * per-arrival aggregation is bounded by the eval set, never the
    * corpus. Zero state beyond the parquet index.
    */
  def contaminationGateAgainstIndex(arrivals: DataFrame, index: DataFrame,
      n: Int = 8, minShared: Long = 1): DataFrame = {
    val evalSizes = index.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("eval_grams"))
    val ov = shingles(arrivals, n).join(index, "gram")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
      .join(evalSizes, "eval_id")
      .withColumn("containment",
        col("shared_grams").cast("double") / col("eval_grams").cast("double"))
    val best = ov.groupBy(col("doc_id"))
      .agg(min(struct(negate(col("containment")).as("nc"), col("eval_id"),
        col("shared_grams"), col("eval_grams"))).as("m"))
      .select(col("doc_id"), col("m.eval_id").as("eval_id"),
        col("m.shared_grams").as("shared_grams"),
        col("m.eval_grams").as("eval_grams"),
        negate(col("m.nc")).as("containment"))
    arrivals.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("eval_id").isNotNull, "contaminated")
          .otherwise("clean").as("verdict"),
        col("eval_id"), col("shared_grams"), col("eval_grams"),
        col("containment"))
      .orderBy(col("doc_id"))
  }

  /** The ADMISSION decision for one arriving batch — every per-arrival
    * ingest gate composed into one declarative pass over `(doc_id, text,
    * embedding)` arrivals: text duplicate ([[dedupAgainstIndex]]),
    * semantic duplicate ([[embedDedupAgainstIndexBanded]] — the
    * recall-preserving grown-geometry route), contamination
    * ([[contaminationGateAgainstIndex]]), folded through a severity
    * precedence: `quarantine_contaminated` (an eval leak must be
    * quarantined for audit, not silently dropped, even when it is also a
    * duplicate) > `drop_duplicate` (text exact/near) >
    * `drop_semantic_duplicate` > `quarantine_unverifiable` (a
    * null/wrong-dimension embedding means the semantic gate COULD NOT
    * run — a refusal is not admission, the unhashable-media discipline) >
    * `admit`. Every gate's evidence columns ride along for audit. The
    * three gates are parallel join subtrees over one arrival scan;
    * composition adds only batch-sized doc_id equi-joins.
    *
    * Refusals are SYMMETRIC across gates: a null/empty-text arrival is
    * one whose text gate AND contamination gate could not run (md5(null)
    * and shingles over null produce no rows — such a document would
    * otherwise sail through as `new`/`clean`), so its text_verdict is
    * `invalid` and — unless the embedding gate found a semantic duplicate
    * to drop it as — its decision is `quarantine_unverifiable`, exactly
    * like an arrival whose embedding the semantic gate refuses.
    */
  def admitAgainstIndexes(arrivals: DataFrame, textIndex: DataFrame,
      embIndexBanded: DataFrame, evalGramIndex: DataFrame,
      maxHamming: Int = 3, minCosine: Double = 0.9, n: Int = 8,
      minShared: Long = 1): DataFrame = {
    val textInvalid = col("text").isNull || length(col("text")) === 0
    val tv = dedupAgainstIndex(
      arrivals.select(col("doc_id"), col("text")), textIndex, maxHamming)
      .select(col("doc_id"), col("verdict").as("raw_text_verdict"),
        col("match_id").as("text_match"))
    val bv = embedDedupAgainstIndexBanded(
      arrivals.select(col("doc_id").as("vec_id"), col("embedding")),
      embIndexBanded, minCosine)
      .select(col("vec_id").as("doc_id"),
        col("verdict").as("embed_verdict"),
        col("match_id").as("embed_match"), col("cosine").as("embed_cosine"))
    val cv = contaminationGateAgainstIndex(
      arrivals.select(col("doc_id"), col("text")), evalGramIndex, n,
      minShared)
      .select(col("doc_id"), col("verdict").as("contam_verdict"),
        col("eval_id"), col("containment"))
    // the text-refusal override rides the base-table scan (no extra join):
    // a null/empty text can never have matched the hash or shingle gates,
    // so overriding its raw `new` to `invalid` loses no evidence
    arrivals.select(col("doc_id"), textInvalid.as("text_invalid"))
      .join(tv, Seq("doc_id"))
      .join(bv, Seq("doc_id"))
      .join(cv, Seq("doc_id"))
      .withColumn("text_verdict",
        when(col("text_invalid"), "invalid")
          .otherwise(col("raw_text_verdict")))
      .select(col("doc_id"),
        when(col("contam_verdict") === "contaminated",
          "quarantine_contaminated")
          .when(col("text_verdict") === "exact" ||
            col("text_verdict") === "near", "drop_duplicate")
          .when(col("embed_verdict") === "near", "drop_semantic_duplicate")
          .when(col("embed_verdict") === "invalid" ||
            col("text_verdict") === "invalid", "quarantine_unverifiable")
          .otherwise("admit").as("decision"),
        col("text_verdict"), col("text_match"),
        col("embed_verdict"), col("embed_match"), col("embed_cosine"),
        col("eval_id"), col("containment"))
      .orderBy(col("doc_id"))
  }

  /** Positional word n-gram shingles (1 row per POSITION, 1-based) — the
    * span-detection form of [[shingles]]: positions are kept (and grams NOT
    * deduplicated) so adjacent duplicated grams can be merged back into
    * contiguous spans. The tail positions past `size - n + 1` produce NULL
    * and are filtered, so element k of the filtered array IS the gram
    * starting at word k — `posexplode` ordinals stay aligned with word
    * positions.
    */
  def positionalShingles(docs: DataFrame, n: Int): DataFrame =
    docs.withColumn("words", words(col("text")))
      .select(col("doc_id"), posexplode(expr(
        s"""filter(transform(sequence(1, size(words)), i ->
              CASE WHEN i + ${n - 1} <= size(words)
                   THEN ${(0 until n).map(j => s"element_at(words, i + $j)").mkString("concat_ws(' ', ", ", ", ")")}
              END), x -> x IS NOT NULL)""")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))

  /** Exact duplicated-substring SPANS — the ExactSubstr half of the
    * published dedup recipe (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): find the contiguous word ranges of each
    * document whose every n-gram also appears in at least one OTHER
    * document. The paper builds a corpus suffix array; the shuffle-native
    * equivalent is a positional gram inverted index — a gram occurring in
    * ≥ 2 distinct docs marks all its positions duplicated, and a run of
    * adjacent duplicated positions p..q is exactly a shared substring of
    * q - p + n words. Output: one row per maximal span with its word range,
    * length, and gram count — the rows a surgical span-removal pass (the
    * paper's remedy, cutting the span but keeping the document) consumes.
    *
    * Scale: the gram index is the one large shuffle (the [[ngramJaccard]]
    * shape), `maxDocFreq` bounds fan-out on boilerplate mega-grams exactly
    * like d02 — dropping a gram in thousands of docs loses nothing, such
    * text is boilerplate handled by [[TextAnalysis]]'s t11 route. The only
    * windows are per-doc (bounded by document length, never corpus-wide);
    * run-merging is lag + running-sum, not a self-join. Cross-doc only by
    * design: within-doc repetition is t10's repetition signal, not dedup.
    */
  def duplicatedSpans(docs: DataFrame, n: Int,
      maxDocFreq: Long = Long.MaxValue): DataFrame =
    duplicatedSpansCore(docs, n, maxDocFreq)
      .orderBy(col("doc_id"), col("span_start"))

  /** [[duplicatedSpans]] without the presentation sort — the composition
    * form ([[removeDuplicatedSpans]] re-aggregates by doc_id immediately,
    * so a range exchange between the two would be pure waste).
    */
  private def duplicatedSpansCore(docs: DataFrame, n: Int,
      maxDocFreq: Long): DataFrame = {
    // the positional index feeds both the df aggregation and the join back
    val pos = positionalShingles(docs, n).cache()
    val dup = pos.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDocFreq)
      .select(col("gram"))
    mergeRuns(pos.join(dup, "gram"), n)
  }

  /** Run-merge of duplicated gram positions into maximal spans: a run of
    * adjacent positions (lag + running-sum over the per-doc window, bounded
    * by doc length) aggregates to one [start, end + n - 1] span row. The
    * doc_id exchange introduced for the windows is reused by the span
    * aggregation.
    */
  private def mergeRuns(hits: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits.select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) === 1, 0L)
          .otherwise(1L))
      .withColumn("run", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1).cast("long")).as("span_end"),
        count(lit(1)).as("dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"),
        col("dup_grams"))
  }

  /** Corpus-side GRAM index for incremental substring dedup — one row per
    * DISTINCT corpus gram (no positions, no doc ids: membership is the
    * only question an arrival asks, and a one-row-per-gram index makes the
    * arrival join fan-out exactly 1 — no `maxDocFreq` cap needed, unlike
    * [[duplicatedSpans]] where gram df drives a pair explosion). Built at
    * ingest/compaction cadence and persisted, completing the
    * incremental-index family ([[buildCorpusIndex]] text hashes,
    * [[buildMediaIndex]] perceptual, [[buildEmbedIndex]] vectors) with
    * substring membership.
    */
  def buildGramIndex(corpus: DataFrame, n: Int): DataFrame =
    shingles(corpus, n).select(col("gram")).distinct()

  /** Duplicated-substring spans of an incoming batch AGAINST the persisted
    * corpus [[buildGramIndex]] — the incremental form of
    * [[duplicatedSpans]]: an arrival's word range whose every n-gram
    * already exists somewhere in the corpus is content the corpus already
    * has (the ExactSubstr contamination check at ingest time, before the
    * batch is admitted). Same output schema as [[duplicatedSpans]];
    * arrival-vs-arrival duplication is deliberately out of scope here
    * ([[dedupAgainst]]'s cross-batch machinery owns that).
    */
  def spanCheckAgainstIndex(incoming: DataFrame, index: DataFrame,
      n: Int): DataFrame =
    mergeRuns(positionalShingles(incoming, n).join(index, "gram"), n)
      .orderBy(col("doc_id"), col("span_start"))

  /** Surgical span removal — the ExactSubstr REMEDY (Lee et al. 2022 cut
    * the duplicated substring and keep the document, rather than dropping
    * whole near-dup docs): every word position covered by a
    * [[duplicatedSpans]] span of ≥ `minSpanTokens` tokens is cut, the rest
    * of the document survives verbatim in order. Output: one row per doc
    * with the scrubbed text, span/token accounting, and the original
    * length — the downstream quality gate then judges the POST-cut length.
    *
    * Scale: spans expand to covered word positions via one bounded explode
    * (Σ span lengths ≤ corpus tokens), collapse to a per-doc position set
    * (grouped on doc_id — the same key the span aggregation already
    * shuffled on), and the rebuild is a per-row array filter fused into the
    * scan: no shuffle beyond [[duplicatedSpans]]' own plus the one doc_id
    * set aggregation. The rebuilt text is whitespace-normalized (single
    * spaces) — a fixed point of the tokenization every text op here uses.
    */
  def removeDuplicatedSpans(docs: DataFrame, n: Int, minSpanTokens: Long,
      maxDocFreq: Long = Long.MaxValue): DataFrame =
    scrubSpans(docs,
      duplicatedSpansCore(docs, n, maxDocFreq)
        .filter(col("span_tokens") >= minSpanTokens))

  /** Surgical span removal for ARRIVALS against the persisted corpus
    * [[buildGramIndex]] — [[spanCheckAgainstIndex]]'s detection composed
    * with [[removeDuplicatedSpans]]' remedy: every word range of an
    * arriving document whose n-grams are all corpus-known (and spans
    * ≥ `minSpanTokens`) is cut before admission, so only the arrival's
    * genuinely novel content enters the corpus. The ingest-time form of
    * the ExactSubstr remedy; same output schema as the batch scrub.
    */
  def spanScrubAgainstIndex(incoming: DataFrame, index: DataFrame, n: Int,
      minSpanTokens: Long): DataFrame =
    scrubSpans(incoming,
      mergeRuns(positionalShingles(incoming, n).join(index, "gram"), n)
        .filter(col("span_tokens") >= minSpanTokens))

  /** Shared rebuild: cut every word position covered by `spans` from
    * `docs`. ONE aggregation yields both the span count and the
    * covered-position set (spans expand per row via sequence + flatten —
    * no second explode branch, so the span subtree is evaluated exactly
    * once; spans per doc are bounded by doc length, so the flattened set
    * is too); the text rebuild is a per-row array filter fused into the
    * scan, docs without spans stream through the left join untouched.
    */
  private def scrubSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        array_distinct(flatten(collect_list(
          sequence(col("span_start"), col("span_end"))))).as("cut"))
    docs.withColumn("words", words(col("text")))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        col("words"), col("cut"))
      .withColumn("kept", expr(
        """filter(transform(sequence(1, size(words)), i ->
             CASE WHEN cut IS NULL OR NOT array_contains(cut, CAST(i AS BIGINT))
                  THEN element_at(words, i) END), x -> x IS NOT NULL)"""))
      .select(col("doc_id"), col("n_spans"),
        size(col("words")).cast("long").as("orig_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        (size(col("words")) - size(col("kept"))).cast("long")
          .as("removed_tokens"),
        concat_ws(" ", col("kept")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over a near-dup pair list — the step that turns
    * PAIRS into dedup GROUPS (a chain a~b~c must collapse to ONE canonical
    * survivor even when a and c never paired directly). Iterative min-label
    * propagation: every doc starts labeled with its own id; each round, every
    * doc takes the minimum label among itself and its neighbors; at fixpoint
    * the label is the minimum doc_id of the component — the same canonical
    * -survivor rule as [[exact]].
    *
    * Scale design: each round is one equi-join of the (undirected) edge list
    * against the label table plus one hash aggregation — all shuffles are
    * key-partitioned, nothing is broadcast or collected (the driver reads ONE
    * scalar per round: the label-sum convergence metric, monotone
    * non-increasing and constant exactly at fixpoint, so convergence
    * detection needs no row-level diff join). Labels are locally
    * checkpointed each round to truncate the iterative lineage. Round count
    * is bounded by the component DIAMETER: near-dup clusters are dense
    * (band-collision edges), with diameters of 2-3 in practice. For
    * adversarial long-chain graphs production systems switch to the
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) whose round count is
    * O(log n); the per-round dataflow shape — join, re-key, min-aggregate —
    * is identical to this one.
    *
    * `edges` needs (doc1, doc2) columns; `docs` needs doc_id. Docs in no
    * pair form singleton clusters. Output: (doc_id, cluster_id,
    * cluster_size) ordered by doc_id. Hitting the round bound before the
    * fixpoint THROWS — silently returning under-merged clusters would be
    * data corruption (d10 would keep several "survivors" of one group).
    */
  def clusterComponents(docs: DataFrame, edges: DataFrame,
      maxIters: Int = 25, fallbackToStar: Boolean = true): DataFrame = {
    // barrier (localCheckpoint by default), not cache: a cache dedups
    // EXECUTION but leaves the
    // edge list's full logical tree in every downstream plan, and each of
    // the iteration's 2+ actions per round re-ANALYZES it — for composed
    // callers whose edges embed a large expression tree (e05/e06's
    // fixture-synthesized corpora) that driver-side re-analysis dominated
    // the whole query (measured: e06 38 s → 6 s at sf0.001). Truncating
    // the lineage here is the same discipline the per-round labels below
    // already follow; the star fallback does it too.
    val und = edges.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(edges.select(col("doc2").as("src"), col("doc1").as("dst")))
      .distinct()
      .barriered
    // Iterate ONLY over the ACTIVE vertex set — docs that appear in an edge.
    // Near-dup pairs are a vanishing fraction of a deduplicated corpus, so
    // per-round state is proportional to the near-dup GRAPH, not the corpus;
    // the (huge) singleton remainder joins back once at the end. At 100 TB
    // this is the difference between iterating over gigabytes and petabytes.
    //
    // Initialization FOLDS ROUND 1 IN (r20): propagating identity labels one
    // round yields label(u) = min(u, min N(u)), which is exactly one
    // min-aggregate over the undirected edge list — no join needed. Starting
    // from there saves a full join+aggregate+barrier round on every call
    // (these loops are driver-latency-bound: each round is 2 actions plus
    // AQE stage jobs over tiny checkpointed frames).
    var labels = und.groupBy(col("src").as("doc_id"))
      .agg(min(least(col("dst"), col("src"))).as("label"))
      .barriered
    // The convergence metric (label sum, row count): one action reading the
    // checkpointed labels in a single stage (no shuffle, exact BigInt
    // arithmetic — a Long sum of 2^62-scale ids wraps or overflows).
    def labelStats(df: DataFrame): (BigInt, Long) =
      df.select(col("label")).rdd
        .mapPartitions(it => Iterator.single(
          it.foldLeft((BigInt(0), 0L))((a, r) => (a._1 + r.getLong(0), a._2 + 1))))
        .fold((BigInt(0), 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    val (firstSum, firstCount) = labelStats(labels)
    var prevSum = firstSum
    var it = 1 // round 1 was folded into the initialization
    var converged = firstCount == 0L
    while (!converged && it < maxIters) {
      val nbr = und.join(labels, und("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("label"))
      val next = labels.select(col("doc_id"), col("label")).union(nbr)
        .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
        .barriered
      val nextSum = labelStats(next)._1
      labels = next
      converged = nextSum == prevSum // labels only decrease; equal sum ⇒ fixpoint
      prevSum = nextSum
      it += 1
    }
    // A graph whose diameter defeats the round bound (adversarial chains —
    // near-dup clusters are dense in practice) hands off to the O(log n)
    // large-star/small-star contraction rather than burning more linear
    // rounds. With the fallback disabled the contract is to fail LOUDLY:
    // exiting on the bound with labels still moving would silently split one
    // component into several "clusters", and a dedup that under-merges is
    // data corruption, not degraded service.
    if (!converged) {
      if (fallbackToStar) return clusterComponentsStar(docs, edges)
      throw new IllegalStateException(
        s"clusterComponents did not converge in $maxIters rounds: a component's " +
        "diameter exceeds the bound; raise maxIters or use star-contraction " +
        "for adversarial chain graphs")
    }
    labelsToClusters(docs, labels)
  }

  /** Large-star/small-star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the adversarial-graph
    * fallback for [[clusterComponents]]: min-label propagation needs
    * diameter-many rounds (a 10 000-link near-dup chain = 10 000 joins); star
    * contraction converges in O(log n) rounds on ANY graph by rewiring edges
    * toward local minima instead of walking them.
    *
    * Each round is two phases over a canonical (hi > lo) edge list:
    *  - large-star: for every node u, connect each STRICTLY LARGER neighbor
    *    to m = min(N(u) ∪ {u}) — long chains fold in half;
    *  - small-star: for every node u, connect u and each smaller neighbor to
    *    m = min(N⁻(u) ∪ {u}) — partial stars flatten onto their minimum.
    * At the joint fixpoint every component is a star centered on its minimum
    * id, i.e. exactly the label table. Both phases are the same dataflow
    * shape as a min-label round — equi-join + hash min-aggregate, all
    * shuffles key-partitioned, nothing broadcast or collected — so the scale
    * properties carry over; only the round COUNT changes. Convergence is an
    * exact edge-set comparison (count + except, both key-partitioned): a
    * checksum could false-converge, and per-node labels are not monotone
    * mid-contraction, so the label-sum trick does not apply here.
    */
  def clusterComponentsStar(docs: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    var e = edges.filter(col("doc1") =!= col("doc2"))
      .select(greatest(col("doc1"), col("doc2")).as("hi"),
        least(col("doc1"), col("doc2")).as("lo"))
      .distinct()
      .barriered
    var eCount = e.count()
    var it = 0
    var converged = eCount == 0L
    while (!converged && it < maxIters) {
      // large-star: group over BOTH directions; emit (v, min(mn, u)) for the
      // larger neighbors v > u. Output stays canonical: v > u ≥ min(mn, u).
      val bi = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = bi.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = bi.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("mn"), col("u")).as("lo"))
        .distinct()
      // small-star: group the canonical list by hi; every smaller neighbor
      // (and hi itself) connects to the minimum m. lo ≥ m always, = filtered.
      val sMins = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val ss = ls.join(sMins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(sMins.select(col("hi"), col("m").as("lo")))
        .distinct()
        .barriered
      val ssCount = ss.count()
      // fixpoint = identical edge set across a full round (counts equal and
      // no edge in ss missing from e); except() is exact, unlike a checksum
      converged = ssCount == eCount && ss.except(e).head(1).isEmpty
      e = ss
      eCount = ssCount
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterComponentsStar did not converge in $maxIters rounds — " +
        "O(log n) bounds this at ~64 for any graph that fits in storage; " +
        "this indicates a bug, not an adversarial input")
    labelsToClusters(docs, e.select(col("hi").as("doc_id"), col("lo").as("label")))
  }

  /** Shared tail of the component algorithms: attach labels to the full doc
    * list (absent docs are singletons labeled by their own id) and annotate
    * cluster sizes. The size window partitions on cluster_id — bounded by
    * the largest near-dup cluster, not the corpus.
    */
  private def labelsToClusters(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("label", "cluster_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy(col("doc_id"))

  /** Streaming exact dedup: emit only the FIRST document seen per content
    * hash; duplicates arriving within the watermark horizon are dropped and
    * per-hash state expires once the watermark passes (bounded state — the
    * property that lets this run forever on an unbounded corpus feed, unlike
    * a global `dropDuplicates`, whose state only grows). `docs` must carry an
    * `event_time` timestamp column. Duplicates farther apart than `horizon`
    * can both survive: at 100 TB/day the horizon is the dedup window a
    * production feed actually wants, and the periodic batch [[sweepTail]]
    * pass over the accumulated output closes the long tail.
    */
  def streamingExactDedup(docs: DataFrame, horizon: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  final case class BandDoc(band: Int, bits: Long, doc_id: Long, sh: Long,
      ts_us: Long)
  final case class BandEntry(doc_id: Long, sh: Long, ts_us: Long)
  final case class BucketEntries(entries: Seq[BandEntry])
  final case class StreamPair(band: Int, doc1: Long, doc2: Long,
      hamming: Long, ts_us: Long)

  /** STREAMING SimHash-64 near-dup: emits a verified pair as soon as the
    * second document arrives, for documents whose event times are within
    * `horizonUs` of each other (the r3 streaming-dedup horizon semantics,
    * extended from exact to NEAR duplicates). Per (band, 16-bit key) bucket,
    * managed state holds the (doc_id, fingerprint, ts) triples still inside
    * the horizon — a few longs per doc per band; entries older than
    * `watermark − horizon` can never pair with a future arrival and are
    * evicted on the event-time timeout sweep, so state is BOUNDED by the
    * horizon however long the stream runs. A colliding pair may emit once
    * per matching band (rows distinguished by `band`); the distinct-pair
    * view is a trivial downstream `dropDuplicates(doc1, doc2)` — or the
    * batch [[simhashNearDup64]] pass over the accumulated corpus, exactly
    * like [[sweepTail]] closes [[streamingExactDedup]]'s long tail.
    *
    * In BATCH mode ([[Dataset.isStreaming]] false) the group function sees
    * each bucket's full history once and applies the same within-horizon
    * pairing — used by the spec to cross-check the streaming output.
    * `docs` needs (doc_id long, text string, event_time timestamp).
    */
  def streamingSimhashNearDup(docs: DataFrame, horizonUs: Long,
      maxHamming: Int = 3, latenessUs: Long = 0L): Dataset[StreamPair] = {
    require(maxHamming >= 0 && maxHamming < 4)
    require(latenessUs >= 0L)
    implicit val bandDocEnc = Encoders.product[BandDoc]
    implicit val stateEnc = Encoders.product[BucketEntries]
    implicit val pairEnc = Encoders.product[StreamPair]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)

    val streaming = docs.isStreaming
    val withSig = docs
      .withColumn("sh", graft.functions.SimHash64(col("text")))
      .withColumn("ts_us", unix_micros(col("event_time")))
    val watermarked =
      if (streaming)
        withSig.withWatermark("event_time", s"$latenessUs microseconds")
      else withSig
    // event_time stays in the schema (not in BandDoc) so the stateful
    // operator can see the watermark column; as[] resolves fields by name
    val bands = watermarked
      .select(col("doc_id"), col("sh"), col("ts_us"), col("event_time"),
        posexplode(array(band64Keys(col("sh")): _*)).as(Seq("band", "bits")))
      .as[BandDoc]

    def pairsOf(band: Int, older: BandEntry, newer: BandEntry): Option[StreamPair] = {
      val ham = java.lang.Long.bitCount(older.sh ^ newer.sh).toLong
      // ABSOLUTE event-time distance: a late arrival (admitted by the
      // lateness allowance) can carry a ts far below a held entry's — a
      // signed check would pair docs arbitrarily far apart
      if (ham <= maxHamming && older.doc_id != newer.doc_id &&
          math.abs(newer.ts_us - older.ts_us) <= horizonUs)
        Some(StreamPair(band,
          math.min(older.doc_id, newer.doc_id),
          math.max(older.doc_id, newer.doc_id), ham, newer.ts_us))
      else None
    }

    def update(key: (Int, Long), batch: Iterator[BandDoc],
        state: GroupState[BucketEntries]): Iterator[StreamPair] = {
      if (streaming && state.hasTimedOut) {
        // eviction sweep: a future admitted arrival carries event time >=
        // watermark − lateness, so entries older than watermark − lateness −
        // horizon can never pair again
        val cutoff =
          state.getCurrentWatermarkMs() * 1000L - latenessUs - horizonUs
        val live = state.getOption.map(_.entries.filter(_.ts_us >= cutoff))
          .getOrElse(Seq.empty)
        if (live.isEmpty) state.remove()
        else {
          state.update(BucketEntries(live))
          state.setTimeoutTimestamp(math.max(
            live.map(_.ts_us).max / 1000L + (horizonUs + latenessUs) / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
        }
        Iterator.empty
      } else {
        val newDocs = batch.toSeq.sortBy(d => (d.ts_us, d.doc_id))
          .map(d => BandEntry(d.doc_id, d.sh, d.ts_us))
        val held = state.getOption.map(_.entries).getOrElse(Seq.empty)
        val out = scala.collection.mutable.ArrayBuffer[StreamPair]()
        var seen = held
        newDocs.foreach { n =>
          seen.foreach(o => pairsOf(key._1, o, n).foreach(out += _))
          seen = seen :+ n
        }
        if (streaming) {
          val cutoff =
            state.getCurrentWatermarkMs() * 1000L - latenessUs - horizonUs
          val live = seen.filter(_.ts_us >= cutoff)
          state.update(BucketEntries(live))
          state.setTimeoutTimestamp(math.max(
            live.map(_.ts_us).max / 1000L + (horizonUs + latenessUs) / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
        }
        out.iterator
      }
    }

    bands
      .groupByKey(d => (d.band, d.bits))
      .flatMapGroupsWithState(OutputMode.Append,
        if (streaming) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  final case class MhBandDoc(band: Int, sig: String, doc_id: Long,
      mins: Seq[String], ts_us: Long)
  final case class MhEntry(doc_id: Long, mins: Seq[String], ts_us: Long)
  final case class MhBucket(entries: Seq[MhEntry])
  final case class MhStreamPair(band: Int, doc1: Long, doc2: Long,
      matched: Long, k: Long, ts_us: Long)

  /** STREAMING MinHash near-dup — the Jaccard analog of
    * [[streamingSimhashNearDup]]: per doc, k per-hash MinHash minima (native
    * [[graft.functions.MinHashMins]], one per-row map) banded into
    * k/`bandSize` signatures; per (band, signature) bucket, managed state
    * holds the (doc_id, minima-vector, ts) entries still inside `horizonUs`,
    * and a new arrival pairs with every held entry, emitting the count of
    * MATCHING minima positions — `matched / k` is the standard unbiased
    * estimate of the pair's Jaccard similarity, available without any
    * shingle join (the exact-verification join is batch [[minhashLsh]]'s
    * job over the accumulated corpus, like [[sweepTail]] closes
    * [[streamingExactDedup]]'s long tail).
    *
    * State is BOUNDED by the horizon (entries older than `watermark −
    * lateness − horizon` can never pair and are evicted on the event-time
    * timeout sweep); each entry is k 32-char strings, independent of document
    * size — the property that makes signature-based streaming dedup the
    * production shape at 100 TB/day. A colliding pair emits once per matching
    * band; distinct-pair view = `dropDuplicates(doc1, doc2)` downstream.
    *
    * In BATCH mode the group function sees each bucket's full history once
    * and applies the same within-horizon pairing (spec cross-check).
    * `docs` needs (doc_id long, text string, event_time timestamp).
    */
  def streamingMinhashNearDup(docs: DataFrame, horizonUs: Long, n: Int = 3,
      numHashes: Int = 8, bandSize: Int = 4,
      latenessUs: Long = 0L): Dataset[MhStreamPair] = {
    require(numHashes % bandSize == 0)
    require(latenessUs >= 0L)
    implicit val bandDocEnc = Encoders.product[MhBandDoc]
    implicit val stateEnc = Encoders.product[MhBucket]
    implicit val pairEnc = Encoders.product[MhStreamPair]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)

    val streaming = docs.isStreaming
    val numBands = numHashes / bandSize
    val withSig = docs
      .withColumn("words", words(col("text")))
      .withColumn("grams", shingleArray(n))
      .withColumn("mins", graft.functions.MinHashMins(col("grams"), numHashes))
      // band signature = md5 of the '|'-joined band minima — identical to
      // MinHashBandSigs' construction, derived here from the minima already
      // in hand instead of re-hashing every shingle per band
      .withColumn("sigs", expr(
        s"""transform(sequence(0, ${numBands - 1}), b ->
              md5(array_join(slice(mins, b * $bandSize + 1, $bandSize), '|')))"""))
      .withColumn("ts_us", unix_micros(col("event_time")))
      .filter(size(col("mins")) > 0) // shingle-less docs sign nothing
    val watermarked =
      if (streaming)
        withSig.withWatermark("event_time", s"$latenessUs microseconds")
      else withSig
    val bands = watermarked
      .select(col("doc_id"), col("mins"), col("ts_us"), col("event_time"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
      .as[MhBandDoc]

    def pairsOf(band: Int, older: MhEntry, newer: MhEntry): Option[MhStreamPair] = {
      if (older.doc_id != newer.doc_id &&
          math.abs(newer.ts_us - older.ts_us) <= horizonUs) {
        val matched = older.mins.iterator.zip(newer.mins.iterator)
          .count { case (a, b) => a == b }.toLong
        Some(MhStreamPair(band,
          math.min(older.doc_id, newer.doc_id),
          math.max(older.doc_id, newer.doc_id),
          matched, numHashes.toLong, newer.ts_us))
      } else None
    }

    def update(key: (String, Int), batch: Iterator[MhBandDoc],
        state: GroupState[MhBucket]): Iterator[MhStreamPair] = {
      if (streaming && state.hasTimedOut) {
        val cutoff =
          state.getCurrentWatermarkMs() * 1000L - latenessUs - horizonUs
        val live = state.getOption.map(_.entries.filter(_.ts_us >= cutoff))
          .getOrElse(Seq.empty)
        if (live.isEmpty) state.remove()
        else {
          state.update(MhBucket(live))
          state.setTimeoutTimestamp(math.max(
            live.map(_.ts_us).max / 1000L + (horizonUs + latenessUs) / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
        }
        Iterator.empty
      } else {
        val newDocs = batch.toSeq.sortBy(d => (d.ts_us, d.doc_id))
          .map(d => MhEntry(d.doc_id, d.mins, d.ts_us))
        val held = state.getOption.map(_.entries).getOrElse(Seq.empty)
        val out = scala.collection.mutable.ArrayBuffer[MhStreamPair]()
        var seen = held
        newDocs.foreach { nd =>
          seen.foreach(o => pairsOf(key._2, o, nd).foreach(out += _))
          seen = seen :+ nd
        }
        if (streaming) {
          val cutoff =
            state.getCurrentWatermarkMs() * 1000L - latenessUs - horizonUs
          val live = seen.filter(_.ts_us >= cutoff)
          state.update(MhBucket(live))
          state.setTimeoutTimestamp(math.max(
            live.map(_.ts_us).max / 1000L + (horizonUs + latenessUs) / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
        }
        out.iterator
      }
    }

    bands
      .groupByKey(d => (d.sig, d.band))
      .flatMapGroupsWithState(OutputMode.Append,
        if (streaming) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  /** Batch long-tail sweep composing with [[streamingExactDedup]]: duplicates
    * farther apart than the streaming horizon both land in the output table,
    * so a periodic batch pass (e.g. daily, over the accumulated survivors)
    * keeps only the minimum-doc_id row per content hash — the same canonical
    * -survivor rule as [[exact]]. One hash-partitioned shuffle, no state,
    * preserves the input schema row-for-row on the survivors.
    */
  def sweepTail(survivors: DataFrame): DataFrame = {
    val hadHash = survivors.columns.contains("content_hash")
    val hashed =
      if (hadHash) survivors
      else survivors.withColumn("content_hash", md5(col("text")))
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id").asc)
    val kept = hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    if (hadHash) kept else kept.drop("content_hash")
  }
}
