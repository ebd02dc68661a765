package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Sanity specs for the training-data pipeline operators on tiny inline data
  * (the oracle differential tests in SparkEntry/EntryOps are the exhaustive
  * check; these pin the core semantics).
  */
class OpsSpec extends GraftSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e"),
    (2L, "a b c d e"),          // exact dup of 1
    (3L, "a b c d x"),          // near dup of 1 (shares 2 of its 3-grams? no: 1)
    (4L, "q r s t u v")
  ).toDF("doc_id", "text")

  test("shingles builds distinct word n-grams") {
    val tri = Dedup.shingles(docs.filter($"doc_id" === 1), 3)
      .orderBy("gram").as[(Long, String)].collect().map(_._2)
    assert(tri === Array("a b c", "b c d", "c d e"))
  }

  test("exact dedup groups identical texts under min-id canonical") {
    val out = Dedup.exact(docs).filter($"n_docs" > 1).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("canonical_id") === 1L)
    assert(out(0).getAs[String]("doc_ids") === "1,2")
  }

  test("ngramJaccard finds exact and near duplicates with correct scores") {
    val pairs = Dedup.ngramJaccard(docs, n = 3, minJaccard = 0.1)
      .select("doc1", "doc2", "jaccard").as[(Long, Long, Double)].collect().toMap2
    assert(pairs((1L, 2L)) === 1.0)
    // doc1 grams {abc,bcd,cde}, doc3 grams {abc,bcd,cdx}: inter 2, union 4
    assert(pairs((1L, 3L)) === 0.5)
    assert(!pairs.contains((1L, 4L)))
  }

  test("minhashLsh catches exact duplicates (same signatures) and verifies") {
    val out = Dedup.minhashLsh(docs).select("doc1", "doc2", "jaccard")
      .as[(Long, Long, Double)].collect().toMap2
    assert(out((1L, 2L)) === 1.0)
  }

  test("simhash: identical docs share fingerprints; bucket size reflects it") {
    val out = Dedup.simhash(docs).select("doc_id", "simhash", "bucket_size")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === out(2L)._1)
    assert(out(1L)._2 >= 2L)
    assert(out(1L)._1.length === 16)
    assert(out(1L)._1.forall(c => c == '0' || c == '1'))
  }

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f) ++ Array.fill(60)(0.0f), 0),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f) ++ Array.fill(60)(0.0f), 0),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f) ++ Array.fill(60)(0.0f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f) ++ Array.fill(60)(0.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force topk ranks by cosine with deterministic tiebreaks") {
    val out = Similarity.topkBruteForce(vecs, $"vec_id" === 1, k = 3)
      .select("rank", "cand_id").as[(Long, Long)].collect()
    assert(out === Array((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("IVF probes only the query's sign-bucket") {
    val out = Similarity.topkIvf(vecs, $"vec_id" === 1, k = 3, dims = 4)
      .select("cand_id").as[Long].collect()
    // bucket of vec 1 = {x1>0} -> 1; vec 2 shares it (0.9,0.1 -> bits 1+2=3)? no:
    // vec2 bucket = 1|2 = 3, vec3 = 2, vec4 = 0 -> only vectors in bucket 1: none
    assert(!out.contains(4L)) // opposite-sign vector is never probed
  }

  test("embedding near-dup pairs pass the threshold filter") {
    val out = Similarity.nearDupPairs(vecs, 0.9)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(out === Array((1L, 2L)))
  }

  test("frameSample slices evenly-spaced fixed-size frames from the payload") {
    val assets = Seq((1L, "abcdefgh")).toDF("doc_id", "text")
      .select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload"))
    val frames = graft.ops.Multimodal.frameSample(assets, frames = 4, frameBytes = 2)
      .select("frame_idx", "frame_hex", "frame_bytes")
      .as[(Long, String, Long)].collect()
    // 8 bytes / 4 frames → stride 2: "ab" "cd" "ef" "gh"
    assert(frames === Array((0L, "6162", 2L), (1L, "6364", 2L),
      (2L, "6566", 2L), (3L, "6768", 2L)))
  }

  test("hyperplane family: distinct planes across tables and past index 17 " +
      "(the r13-advice degeneracy), plane-prefix invariant preserved") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def bucket(v: Array[Float], p: Int, off: Int): Int =
      graft.functions.HyperplaneBucket.compute(new GenericArrayData(v), p, 64, off)
    val rng = new java.util.Random(42)
    val vs = Array.fill(200)(Array.fill(64)(rng.nextGaussian().toFloat))
    // p=17 is the geometry where the OLD single-modulus family made all
    // four table offsets t*17 ≡ 0 mod 17 — the tables were bit-identical
    // for EVERY input. The fixed family must separate each table pair.
    for (t <- 1 to 3)
      assert(vs.exists(v => bucket(v, 17, 0) != bucket(v, 17, 17 * t)),
        s"table $t at p=17 is bit-identical to table 0 — the degenerate family is back")
    // within one table past plane 17: old planes i and i+17 were the SAME
    // hyperplane (period 17), so bits i and i+17 always agreed
    for (i <- 0 until 3)
      assert(vs.exists { v =>
        val b = bucket(v, 20, 0)
        ((b >> i) & 1) != ((b >> (i + 17)) & 1)
      }, s"planes $i and ${i + 17} are the same hyperplane — period 17 is back")
    // contract the banded routes build on: coefficients depend only on the
    // offset-shifted plane index, never on the plane COUNT, so the p-plane
    // bucket is the low-p-bit prefix of any wider bucket at the same offset
    vs.foreach { v =>
      assert((bucket(v, 12, 0) & 0xF) === bucket(v, 4, 0))
      assert((bucket(v, 12, 5) & 0xFF) === bucket(v, 8, 5))
    }
  }

  test("banded embed index persists dims; readers band and validate at the " +
      "INDEX's width, not a caller default") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 32-dim corpus: an index built at dims=32 must validate 32-dim
    // arrivals (the 64 default would mark them all invalid) and refuse a
    // 64-dim arrival (which the default would have admitted to banding)
    val v32 = Array.tabulate(32)(i => (math.sin(i * 0.9) + 0.2).toFloat)
    val corpus = Seq((10L, v32)).toDF("vec_id", "embedding")
    val idx = graft.ops.Dedup.buildEmbedIndexBanded(corpus, planes = 4,
      tables = 4, dims = 32)
    assert(idx.select("dims").distinct().as[Int].collect().toSeq === Seq(32))
    val arrivals = Seq(
      (1L, v32),                                  // identical -> near
      (2L, Array.tabulate(64)(_.toFloat))         // wrong width -> invalid
    ).toDF("vec_id", "embedding")
    val v = graft.ops.Dedup.embedDedupAgainstIndexBanded(arrivals, idx,
      minCosine = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("verdict")).toMap
    assert(v === Map(1L -> "near", 2L -> "invalid"),
      s"geometry must follow the index's persisted dims, got $v")
  }

  test("BPE merge training is deterministic across partitionings and " +
      "matches hand-computed merges, greedy on symbol runs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Bpe
    // hand-computed: words ab(x2), ac(x1) -> pairs (a,b):2 > (a,c):1;
    // after both merges no pair remains, so a 5-merge budget stops at 2
    val tiny = Seq((1L, "ab ab ac")).toDF("doc_id", "text")
    assert(Bpe.trainMerges(tiny, 5) ===
      Seq(Bpe.Merge(1, "a", "b", 2L), Bpe.Merge(2, "a", "c", 1L)))
    // greedy left-to-right on runs: "aaaa" has THREE overlapping (a,a)
    // pairs counted, but the merge pass pairs them non-overlapping into
    // [aa][aa] (never [aa] a a), so rank 2 is (aa, aa) with count 1 —
    // the property the two-sentinel bracket encoding exists to preserve
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    assert(Bpe.trainMerges(runs, 3) ===
      Seq(Bpe.Merge(1, "a", "a", 3L), Bpe.Merge(2, "aa", "aa", 1L)))
    // determinism: exact integer counts + total tie-break order => the
    // same corpus yields the identical merge table on ANY partitioning
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val m1 = Bpe.trainMerges(docs.repartition(1), 8)
    val m7 = Bpe.trainMerges(docs.repartition(7, col("doc_id")), 8)
    val m32 = Bpe.trainMerges(docs.repartition(32), 8)
    assert(m1.length === 8)
    assert(m1 === m7)
    assert(m1 === m32)
  }

  test("incremental BPE trainer reproduces the per-merge-job trainer " +
      "rank for rank; cap and overlap semantics pinned") {
    import org.apache.spark.sql.functions._
    import graft.ops.Bpe
    import spark.implicits._
    // overlap semantics: greedy non-overlapping left-to-right, same as the
    // replace()-based form ("aaaa" -> [aa][aa], never [aa] a a)
    assert(Bpe.trainMergesIncremental(IndexedSeq(("aaaa", 1L)), 3) ===
      Seq(Bpe.Merge(1, "a", "a", 3L), Bpe.Merge(2, "aa", "aa", 1L)))
    // equivalence on the real corpus dict: every rank must match the
    // per-merge-job trainer exactly (same argmax order, same counts),
    // exhaustion included (the 31-word dict dries up past rank 89)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val jobForm = Bpe.trainMerges(docs, 12)
    val incForm = Bpe.trainMergesScaled(Bpe.wordDict(docs), 12)
    assert(incForm === jobForm)
    // partitioning determinism of the scaled form
    val dict7 = Bpe.wordDict(docs.repartition(7, col("doc_id")))
    assert(Bpe.trainMergesScaled(dict7, 12) === jobForm)
    // a BINDING vocabulary cap keeps the (freq DESC, w ASC) top slice —
    // identical to training the job form on the pre-capped dict
    val tiny = Seq(("zz", 9L), ("ab", 9L), ("cd", 2L))
      .toDF("w", "freq")
    val capped = Bpe.trainMergesScaled(tiny, 4, maxVocab = 2)
    assert(capped === Seq(Bpe.Merge(1, "a", "b", 9L), Bpe.Merge(2, "z", "z", 9L)))
  }

  test("e09 decode-once lifecycle: output identical to e05, and a " +
      "tampered persisted feature row flows through — the base cohort " +
      "is READ, never re-decoded") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val sf = "/root/testdata/sf0.001"
    val e05 = EntryOps.multimodalCorpus(spark, sf).collect()
    val e09 = EntryOps.multimodalCorpusIncremental(spark, sf).collect()
    assert(e09.toSeq === e05.toSeq)
    // tamper proof: a corpus dir with its own feature root, one base
    // survivor's persisted img_width bumped — a plan that re-decoded the
    // base would overwrite the tamper with the true decode
    val tmp = tempDir("graft_e09")
    java.nio.file.Files.createSymbolicLink(tmp.resolve("documents.parquet"),
      java.nio.file.Paths.get(sf, "documents.parquet"))
    val root = tmp.resolve("media_features").toString
    EntryOps.mediaFeatureRootFixture(spark, tmp.toString, root)
    val victim = e05.map(_.getLong(0)).find(_ % 10 != 0).get
    val img = spark.read.parquet(s"$root/img")
    val widthIdx = img.schema.fieldIndex("img_width")
    val rows = img.collect().map { r =>
      if (r.getLong(0) == victim) Row.fromSeq(r.toSeq.updated(widthIdx, 424242L))
      else r
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), img.schema)
      .write.mode("overwrite").parquet(s"$root/img")
    val out = EntryOps.multimodalCorpusIncremental(spark, tmp.toString).collect()
    assert(out.find(_.getLong(0) == victim).get
      .getAs[Long]("img_width") === 424242L)
    // r18: the same read-not-redecoded proof for the VIDEO root — the
    // descriptor TEXT stays intact (clusters unchanged, the victim keeps
    // surviving), only the sizing column is bumped
    val vid = spark.read.parquet(s"$root/vid")
    val bytesIdx = vid.schema.fieldIndex("vid_bytes")
    val vrows = vid.collect().map { r =>
      if (r.getLong(0) == victim) Row.fromSeq(r.toSeq.updated(bytesIdx, 31337L))
      else r
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(vrows.toIndexedSeq), vid.schema)
      .write.mode("overwrite").parquet(s"$root/vid")
    val out2 = EntryOps.multimodalCorpusIncremental(spark, tmp.toString).collect()
    assert(out2.find(_.getLong(0) == victim).get
      .getAs[Long]("vid_bytes") === 31337L)
  }

  test("clearing the session-cached roots deletes the e09 feature root " +
      "the entry built") {
    val sf = "/root/testdata/sf0.001"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots(): Set[String] =
      tmp.list().filter(_.startsWith("graft_media_feat")).toSet
    Scratch.clearSessionRoots()
    val before = roots()
    EntryOps.multimodalCorpusIncremental(spark, sf)
    val built = roots() -- before
    assert(built.size === 1)
    Scratch.clearSessionRoots()
    assert((roots() & built).isEmpty)
  }

  test("sq8 saturation monitor: a planted out-of-range append crosses " +
      "the rebuild threshold; boundary values are not clipped") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // quantizer trained on [0,1] per dim; appended: one vector entirely
    // outside (every dim clips) and one exactly AT the max (the clamp is
    // the identity there — zero clips, the monitor must not count it)
    val train = Seq((1L, Seq.fill(64)(0.0f)), (2L, Seq.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val app = Seq((10L, Seq.fill(64)(2.0f)), (11L, Seq.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val (quant, _) = graft.ops.Similarity.buildSq8Index(train, planes = 4)
    val out = graft.ops.Similarity.sq8SaturationMonitor(
      train.unionByName(app), quant,
      when(col("vec_id") >= 10L, lit("appended")).otherwise(lit("trained")))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // appended: 2 vecs, 64 of 128 dims clipped -> 500 per-mille, rebuild
    assert(out("appended") === ((2L, 64L, 500L, "rebuild")))
    assert(out("trained") === ((2L, 0L, 0L, "ok")))
  }

  test("video descriptor gram index: set-collapse to first-seen, and the " +
      "persisted index is READ, not recomputed — tampering flips verdicts") {
    val vids = Seq(
      (10L, "soun:500:3:9000:42:14 vide:1000:5:8000:120:24"),
      (30L, "soun:500:3:9000:42:14 vide:1000:5:8000:120:24"), // same SET as 10
      (20L, "text:1500:2:4000:30:15")
    ).toDF("doc_id", "text")
    val idx = Dedup.buildVideoGramIndex(vids)
    // identical descriptor sets collapse to the first-seen asset: 30's
    // tokens carry ex_id 10; the index holds 2 + 1 distinct grams
    assert(idx.collect().map(_.getLong(1)).toSet === Set(10L, 20L))
    assert(idx.count() === 3)
    val root = tempDir("graft_vididx_tamper").resolve("index").toString
    idx.write.parquet(root)
    // arrival 100 re-muxes 10's inventory, 101 trims one track (J = 1/2),
    // 102 refused decode (NULL text)
    val arrivals = Seq(
      (100L, Some("soun:500:3:9000:42:14 vide:1000:5:8000:120:24")),
      (101L, Some("vide:1000:5:8000:120:24")),
      (102L, None: Option[String])
    ).toDF("doc_id", "text")
    def verdicts(path: String) =
      Dedup.videoNearDedupAgainstIndex(arrivals, spark.read.parquet(path))
        .select("doc_id", "verdict", "match_id")
        .as[(Long, String, Option[Long])].collect().toSet
    assert(verdicts(root) === Set((100L, "dup", Some(10L)),
      (101L, "dup", Some(10L)), (102L, "invalid", None)))
    // tamper: drop ex 10's rows from the persisted table — the SAME
    // arrivals must now read new (a plan that re-derived the corpus side
    // would still find 10)
    val tampered = tempDir("graft_vididx_tamper2").resolve("index").toString
    spark.read.parquet(root).filter(col("ex_id") =!= 10L).write.parquet(tampered)
    assert(verdicts(tampered) === Set((100L, "new", None),
      (101L, "new", None), (102L, "invalid", None)))
  }

  test("d39 fixture re-segments genuinely: alias bytes and fragment " +
      "counts differ while the per-track inventory tokens are identical") {
    val sf = "/root/testdata/sf0.001"
    val assets = EntryOps.mp4DashAssets(spark, sf)
      .filter(col("asset_id").isin(30L, 31L, 42L, 43L))
      .select(col("asset_id"),
        col("payload"),
        graft.functions.Mp4FragmentTables(col("payload")).as("f"))
      .select(col("asset_id"), col("payload"),
        expr("transform(f.tracks, t -> t.fragment_count)").as("nfs"),
        graft.functions.F.videoDescriptorText("f.tracks").as("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def bytes(id: Long) = assets(id).getAs[Array[Byte]]("payload")
    def nfs(id: Long) = assets(id).getSeq[Long](2)
    def text(id: Long) = assets(id).getString(3)
    // 31 re-segments 30 (nf 1 -> 2): different bytes, different per-track
    // fragment counts, SAME descriptor text — the d39 dup at jaccard 1.0
    // is real re-packaging detection, not byte equality
    assert(!java.util.Arrays.equals(bytes(30L), bytes(31L)))
    assert(nfs(30L) === Seq(1L, 1L))
    assert(nfs(31L) === Seq(2L, 2L))
    assert(text(30L) === text(31L))
    // 43 trims 42's two-track stream to one: its single token is one of
    // the partner's two (the 1/2-jaccard tier)
    val t42 = text(42L).split(' ').toSet
    val t43 = text(43L).split(' ').toSet
    assert(t42.size === 2 && t43.size === 1 && t43.subsetOf(t42))
  }

  test("m25/d40 fixture re-muxes genuinely: alias bytes, PIDs and " +
      "interleave differ while the per-stream content tokens are identical") {
    val sf = "/root/testdata/sf0.001"
    val assets = EntryOps.mpegTsAssets(spark, sf)
      .filter(col("asset_id").isin(30L, 31L, 42L, 43L))
      .select(col("asset_id"),
        col("payload"),
        graft.functions.MpegTsTables(col("payload")).as("f"))
      .select(col("asset_id"), col("payload"),
        expr("transform(f.streams, s -> s.pid)").as("pids"),
        graft.functions.F.tsDescriptorText("f.streams").as("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def bytes(id: Long) = assets(id).getAs[Array[Byte]]("payload")
    def pids(id: Long) = assets(id).getSeq[Long](2)
    def text(id: Long) = assets(id).getString(3)
    // 31 re-muxes 30: different bytes (PID renumbering + round-robin
    // interleave vs stream-major), SAME descriptor text — the d40 dup at
    // jaccard 1.0 is real re-packaging detection, not byte equality
    assert(!java.util.Arrays.equals(bytes(30L), bytes(31L)))
    assert(pids(30L).toSet.intersect(pids(31L).toSet).isEmpty)
    assert(pids(30L).size === 2 && pids(31L).size === 2)
    assert(text(30L) === text(31L))
    // 43 trims 42's two-stream program to one: its single token is one of
    // the partner's two (the partial-jaccard tier)
    val t42 = text(42L).split(' ').toSet
    val t43 = text(43L).split(' ').toSet
    assert(t42.size === 2 && t43.size === 1 && t43.subsetOf(t42))
    // refusal classes decode to no streams
    val refused = EntryOps.mpegTsAssets(spark, sf)
      .filter(col("asset_id") % 37 === 11 || col("asset_id") % 17 === 3)
      .select(graft.functions.MpegTsTables(col("payload")).as("f"))
      .filter(col("f.streams").isNotNull).count()
    assert(refused === 0L)
  }

  test("BPE model root: loaded == retrained merge-for-merge; tampered " +
      "content, foreign family, and torn tables refuse loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Bpe
    val dict = Seq(("abab", 10L), ("abcabc", 5L), ("bca", 3L), ("cab", 2L))
      .toDF("w", "freq")
    val root = tempDir("graft_bpe_root").resolve("root").toString
    val builtId = Bpe.buildBpeModelRoot(spark, dict, numMerges = 4, root)
    // a loaded model and a retrained model must be the same model
    val (loadedId, loaded) = Bpe.loadBpeModel(spark, root)
    assert(loadedId === builtId)
    assert(loaded === Bpe.trainMergesScaled(dict, numMerges = 4),
      "loaded merges must equal a retrain on the identical dict")
    // and produce identical tokens (the t23-vs-t22 contract, in miniature)
    val words = Seq("abab", "abcabc", "zz").toDF("w")
    assert(
      words.select(Bpe.tokens(col("w"), loaded)).collect().toSeq ===
        words.select(Bpe.tokens(col("w"),
          Bpe.trainMergesScaled(dict, numMerges = 4))).collect().toSeq)
    // TAMPER: rewrite one merge's left symbol in place — schema-valid,
    // rank-valid, but the content hash no longer matches the stamped
    // model_id; applying it would tokenize subtly differently forever
    val tampered = tempDir("graft_bpe_tamper").resolve("root").toString
    val rows = spark.read.parquet(s"$root/merges")
    rows.withColumn("left_sym",
        when(col("merge_rank") === 2L, lit("zz")).otherwise(col("left_sym")))
      .write.parquet(s"$tampered/merges")
    spark.read.parquet(s"$root/model").write.parquet(s"$tampered/model")
    val e1 = intercept[IllegalArgumentException] {
      Bpe.loadBpeModel(spark, tampered)
    }
    assert(e1.getMessage.contains("content hash"))
    // FOREIGN FAMILY: a root trained under different replay semantics
    // must refuse before any token is produced
    val foreign = tempDir("graft_bpe_family").resolve("root").toString
    rows.write.parquet(s"$foreign/merges")
    spark.read.parquet(s"$root/model")
      .withColumn("bpe_family", lit(99))
      .write.parquet(s"$foreign/model")
    val e2 = intercept[IllegalArgumentException] {
      Bpe.loadBpeModel(spark, foreign)
    }
    assert(e2.getMessage.contains("family"))
    // TORN: manifest declares more merges than the table holds
    val torn = tempDir("graft_bpe_torn").resolve("root").toString
    rows.filter(col("merge_rank") < 2L).write.parquet(s"$torn/merges")
    spark.read.parquet(s"$root/model").write.parquet(s"$torn/model")
    val e3 = intercept[IllegalArgumentException] {
      Bpe.loadBpeModel(spark, torn)
    }
    assert(e3.getMessage.contains("torn or truncated"))
  }

  test("native BPE application reproduces rank-order replay token-for-" +
      "token: corpus model vs the fold, random trainer-shaped tables vs " +
      "a reference replay, and the re-creation divergence case") {
    import org.apache.spark.sql.functions._
    import graft.ops.Bpe
    import graft.functions.BpeApply
    import org.apache.spark.unsafe.types.UTF8String
    // driver-side reference: the definitional single-pass-per-rank replay
    def replayRef(w: String, ms: Seq[(String, String)]): Seq[String] = {
      var syms = w.toCharArray.map(_.toString).toSeq
      for ((l, r) <- ms) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toSeq
      }
      syms
    }
    def native(w: String, ms: Seq[(String, String)]): Seq[String] = {
      val arr = BpeApply.encode(UTF8String.fromString(w),
        new BpeApply.Model(ms.toArray))
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    // the divergence case the scaladoc names: a later merge re-creates an
    // earlier merge's pair; replay must NOT re-merge it (the
    // repeat-lowest-rank tokenizer loop would yield [aab] here)
    assert(native("aab", Seq(("aa", "b"), ("a", "a"))) === Seq("aa", "b"))
    assert(replayRef("aab", Seq(("aa", "b"), ("a", "a"))) === Seq("aa", "b"))
    // random trainer-shaped tables: each merge concatenates two symbols
    // from the evolving pool, which naturally produces duplicate-string
    // symbols (("a","ab") vs ("aa","b")) — the adversarial class
    val rnd = new scala.util.Random(421L)
    for (_ <- 1 to 300) {
      val pool = scala.collection.mutable.ArrayBuffer("a", "b", "c")
      val ms = (1 to (1 + rnd.nextInt(10))).map { _ =>
        val l = pool(rnd.nextInt(pool.length))
        val r = pool(rnd.nextInt(pool.length))
        pool += (l + r)
        (l, r)
      }
      val w = (1 to rnd.nextInt(13)).map(_ => "abc" (rnd.nextInt(3))).mkString
      assert(native(w, ms) === replayRef(w, ms),
        s"word '$w' table $ms")
    }
    // the trained corpus model through the CODEGEN path: native count ==
    // the k-deep literal-replace fold on every dict word
    val docs3 = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMerges(docs3, 12)
    val dict = Bpe.wordDict(docs3)
    val mism = dict.select(
        Bpe.tokenCount(col("w"), merges).as("fold"),
        Bpe.tokenCountScaled(col("w"), merges).as("nat"))
      .filter(col("fold") =!= col("nat")).count()
    assert(mism === 0L)
  }

  test("embed index readers enforce the coefficient-family gate: a " +
      "mismatched or pre-stamp index fails loudly, never all-'new'") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.cos(i * 0.7) + 0.1).toFloat)
    val corpus = Seq((10L, v)).toDF("vec_id", "embedding")
    val arrivals = Seq((1L, v)).toDF("vec_id", "embedding")
    // both builders stamp the CURRENT family on every row
    val idx = graft.ops.Dedup.buildEmbedIndex(corpus)
    val idxB = graft.ops.Dedup.buildEmbedIndexBanded(corpus)
    val fam = graft.functions.HyperplaneBucket.Family
    assert(idx.select("hp_family").distinct().as[Int].collect().toSeq === Seq(fam))
    assert(idxB.select("hp_family").distinct().as[Int].collect().toSeq === Seq(fam))
    // sanity: a family-matched read works (the gate must not break the
    // happy path)
    assert(graft.ops.Dedup.embedDedupAgainstIndex(arrivals, idx,
      minCosine = 0.9).collect().head.getAs[String]("verdict") === "near")
    // an index keyed under a DIFFERENT family passes every geometry guard
    // (planes/tables/dims all match) but its bucket keys never collide —
    // the reader must refuse, not silently report 'new'
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.embedDedupAgainstIndex(arrivals,
        idx.withColumn("hp_family", lit(fam - 1)), minCosine = 0.9)
    }
    assert(e1.getMessage.contains("family"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.embedDedupAgainstIndexBanded(arrivals,
        idxB.withColumn("hp_family", lit(fam - 1)), minCosine = 0.9)
    }
    assert(e2.getMessage.contains("family"), e2.getMessage)
    // a pre-stamp index (no hp_family column at all) was keyed under planes
    // this code no longer computes — same refusal, with a rebuild hint
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.embedDedupAgainstIndex(arrivals,
        idx.drop("hp_family"), minCosine = 0.9)
    }
    assert(e3.getMessage.contains("hp_family"), e3.getMessage)
    // the refusal message must name the backfill path — a stamp-less index
    // is not necessarily incompatible, only unverifiable (r15 advice)
    assert(e3.getMessage.contains("backfillFamily"), e3.getMessage)
    // documented backfill: stamping a KNOWN current-family stamp-less
    // index restores readability with full recall...
    val backfilled = graft.ops.Dedup.backfillFamily(idx.drop("hp_family"))
    assert(graft.ops.Dedup.embedDedupAgainstIndex(arrivals, backfilled,
      minCosine = 0.9).collect().head.getAs[String]("verdict") === "near")
    // ...and refuses to overwrite a real stamp (evidence, not a default)
    val e4 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.backfillFamily(idx)
    }
    assert(e4.getMessage.contains("already"), e4.getMessage)
  }

  test("SQ8 persisted lifecycle: frozen append served through the " +
      "generation view; quantizer-identity gate refuses mismatched and " +
      "pre-stamp codes") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    import spark.implicits._
    val base = (0L until 40L).map(i =>
      (i, Array.tabulate(64)(j => (math.sin(i * 0.3 + j * 0.17)).toFloat)))
    // vec 39 (appended cohort) is a byte-identical clone of vec 5 (build
    // cohort): identical vectors share every banded key at any geometry,
    // so the clone pair is the scale-independent witness (the d30 pattern)
    val vecs = base.updated(39, (39L, base(5)._2.clone()))
    val df = vecs.toDF("vec_id", "embedding")
    val root = tempDir("graft_sq8_spec").resolve("container").toString
    // build on <30 only; the quantizer freezes at commit
    assert(Similarity.commitSq8Root(spark,
      df.filter(col("vec_id") < 30), root, planes = 4) === Some(1L))
    val v = Similarity.resolvePqIndexPath(spark, root)
    assert(Similarity.sq8IndexAppend(spark,
      df.filter(col("vec_id") >= 30), v) === 0L)
    val quant = spark.read.parquet(s"$v/quantizer")
    val codes = Similarity.readPqCodes(spark, v)
    // appended rows serve immediately through the generation view
    assert(codes.filter(col("ex_id") >= 30).count() > 0)
    // the appended clone finds its build-cohort original as a candidate
    // (every band collides — identical vectors), scored by integer dot
    val res = Similarity.topkSq8AgainstIndex(
      df.filter(col("vec_id") === 39), quant, codes, k = 5).collect()
    assert(res.nonEmpty)
    assert(res.exists(r => r.getAs[Long]("cand_id") === 5L),
      res.mkString("; "))
    // ...and an appended NON-clone is itself a servable candidate of the
    // clone iff banded keys collide — at minimum the codes view carries it
    // (the serving guarantee is the generation view's, proven above)
    // quantizer-identity gate: doctored codes refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      Similarity.topkSq8AgainstIndex(df.filter(col("vec_id") === 39),
        quant, codes.withColumn("sq_quant_id", lit(12345L)), k = 5)
    }
    assert(e1.getMessage.contains("quantizer"), e1.getMessage)
    // pre-stamp codes (no sq_quant_id at all) refuse with the rebuild hint
    val e2 = intercept[IllegalArgumentException] {
      Similarity.topkSq8AgainstIndex(df.filter(col("vec_id") === 39),
        quant, codes.drop("sq_quant_id"), k = 5)
    }
    assert(e2.getMessage.contains("sq_quant_id"), e2.getMessage)
    // out-of-range appended values saturate at 0/255, never leave uint8
    val mx = codes.select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(mx.getLong(0) >= 0L && mx.getLong(1) <= 255L)
  }

  test("corpus-wide banded near-dup finds the planted pair a single " +
      "16-plane table misses; pairs are distinct and ordered") {
    import org.apache.spark.sql.functions._
    val vecA = (0 until 64).map(j =>
      if (j % 3 == 0) 1.0f else if (j % 3 == 1) -1.0f else 0.5f)
    val vecB = vecA.zipWithIndex.map { case (v, j) =>
      if (j % 5 == 1) v + 0.8f else v }
    def lits(id: Long, v: Seq[Float]) = spark.sql(
      s"SELECT CAST($id AS BIGINT) AS vec_id, " +
        v.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")") +
        " AS embedding")
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
      .unionByName(lits(-50L, vecA)).unionByName(lits(-100L, vecB))
    val pairs = graft.ops.Dedup.embedNearDupBanded(corpus,
      minCosine = 0.9, planes = 4).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    assert(pairs.contains((-100L, -50L)),
      "the planted cos-0.926 pair must surface through some band")
    assert(pairs.distinct.length === pairs.length,
      "multi-table collisions must collapse to one pair row")
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("multi-band LSH recalls at least the single-band candidate set") {
    // band 0 of the 8-plane bucket IS the 4-plane bucket (the plane
    // coefficients depend only on (plane, dim)), so every single-band
    // candidate also collides in band 0 of the banded variant — banding can
    // only ADD candidates (via band 1), never lose them
    val single = Similarity.topkLsh(vecs, $"vec_id" === 1, k = 10)
      .select("cand_id").as[Long].collect().toSet
    val banded = Similarity.topkLshBands(vecs, $"vec_id" === 1, k = 10)
      .select("cand_id").as[Long].collect().toSet
    assert(single.subsetOf(banded))
    // identical-direction vectors collide in every band → always recalled
    val out = Similarity.topkLshBands(vecs, $"vec_id" === 1, k = 3)
      .select("rank", "cand_id").as[(Long, Long)].collect()
    assert(out.headOption === Some((1L, 2L)))
  }

  test("multi-probe IVF recalls at least the single-probe candidate set") {
    // probe set includes mask 0 (the query's own bucket), so single-probe
    // candidates are always recalled; Hamming-1 probes can only add
    val single = Similarity.topkIvf(vecs, $"vec_id" === 1, k = 10)
      .select("cand_id").as[Long].collect().toSet
    val multi = Similarity.topkIvfMultiProbe(vecs, $"vec_id" === 1, k = 10)
      .select("cand_id").as[Long].collect().toSet
    assert(single.subsetOf(multi))
    // vec 1 sits alone in bucket 1 (single-probe finds nothing); the
    // Hamming-1 probes reach bucket 3 (vec 2) and bucket 0 (vec 4), while
    // vec 3's bucket 2 differs in TWO bits — beyond the probe radius
    assert(single === Set.empty[Long])
    assert(multi === Set(2L, 4L))
  }

  test("LSH-blocked near-dup is the baseline restricted to same-bucket pairs") {
    val full = Similarity.nearDupPairs(vecs, 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val blocked = Similarity.nearDupPairsLsh(vecs, 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(full), "blocking must never invent pairs")
    // near-identical vectors land in the same hyperplane bucket → recalled
    assert(blocked.contains((1L, 2L)))
    // and the exact-cosine verify still rejects same-bucket non-dups: every
    // emitted pair re-checks cosine, so blocked ⊆ full regardless of buckets
    val bucketOf = vecs.select($"vec_id",
      graft.functions.HyperplaneBucket($"embedding", 4).as("b"))
      .as[(Long, Int)].collect().toMap
    val sameBucketPairs = for {
      a <- bucketOf.keys; b <- bucketOf.keys
      if a < b && bucketOf(a) == bucketOf(b)
    } yield (a, b)
    assert(blocked === full.intersect(sameBucketPairs.toSet))
  }

  test("simhashNearDup finds banded Hamming-close pairs, exact-verifies") {
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),   // identical → hamming 0, collides in every band
      (3L, "q r s t u v")  // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.simhashNearDup(d, maxHamming = 2).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getLong(2) == 0L), "identical docs must pair at hamming 0")
    // every emitted pair respects the threshold
    out.foreach(r => assert(r.getLong(2) <= 2L))
    // banding recall: a pair the blocked path emits is also what the
    // unblocked all-pairs hamming filter would emit (pigeonhole exactness
    // for hamming <= bands-1)
    val sh = d.select($"doc_id",
      graft.functions.SimHash16($"text").as("sh"))
    val a = sh.select($"doc_id".as("doc1"), $"sh".as("sh1"))
    val b = sh.select($"doc_id".as("doc2"), $"sh".as("sh2"))
    val ham = (1 to 16).map(i =>
      when(substring($"sh1", i, 1) =!= substring($"sh2", i, 1), 1).otherwise(0))
      .reduce(_ + _)
    val exact = a.join(b, $"doc1" < $"doc2")
      .withColumn("hamming", ham.cast("long"))
      .filter($"hamming" <= 2)
      .select("doc1", "doc2", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === exact)
  }

  test("simhash64: top 16 bits equal simhash16; blocked pairs equal all-pairs") {
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "a b c d x e"),
      (4L, "q r s t u v")
    ).toDF("doc_id", "text")
    // bits 0..15 of md5 are shared by both fingerprints, so SimHash64's top
    // 16 bits (MSB-first) must equal the SimHash16 bitstring
    val both = d.select(
      graft.functions.SimHash16($"text").as("s16"),
      graft.functions.SimHash64($"text").as("s64")).collect()
    both.foreach { r =>
      val top16 = (0 until 16).map { b =>
        if (((r.getLong(1) >>> (63 - b)) & 1L) == 1L) '1' else '0'
      }.mkString
      assert(top16 === r.getString(0))
    }
    // blocked path ≡ unblocked all-pairs bit_count filter (pigeonhole
    // exactness for hamming <= 3 with 4 bands)
    val out = Dedup.simhashNearDup64(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sh = d.select($"doc_id", graft.functions.SimHash64($"text").as("sh"))
    val exact = sh.select($"doc_id".as("doc1"), $"sh".as("sh1"))
      .join(sh.select($"doc_id".as("doc2"), $"sh".as("sh2")), $"doc1" < $"doc2")
      .withColumn("hamming", bit_count($"sh1".bitwiseXOR($"sh2")).cast("long"))
      .filter($"hamming" <= 3)
      .select("doc1", "doc2", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === exact)
    assert(out.exists { case (d1, d2, h) => d1 == 1L && d2 == 2L && h == 0L })
  }

  test("centroid IVF assigns every vector to its max-dot Lloyd-refined centroid") {
    val vecs = (0 until 30).map { v =>
      (v.toLong, (1 to 64).map(j => ((v * 7 + j * 13) % 9 - 4).toFloat / 3f).toArray)
    }.toDF("vec_id", "embedding")
    val out = Similarity.topkIvfCentroids(vecs, col("vec_id") % 10 === 0,
      k = 3, nCentroids = 4)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // buckets are centroid ids = the 4 smallest vec_ids (the seed sample
    // names the refined centroids, even after the Lloyd move)
    assert(rows.map(_.getAs[Long]("bucket")).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    // ranks are contiguous from 1 per query
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to rs.length.toLong))
    }
    // replicate the full two-phase rule locally for one vector: seed
    // assignment → quantized-mean refinement → max-dot against the refined
    // centroids (ties to the smaller centroid id)
    val all = vecs.orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val seeds = all.take(4)
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def assign(cents: Seq[(Long, Array[Double])], v: Array[Float]): Long =
      cents.map { case (cid, ce) =>
        (v.zip(ce).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q }, -cid)
      }.max._2 * -1
    val seedAsg = all.map { case (id, v) =>
      (id, v, seeds.map { case (cid, ce) => (dot(v, ce), -cid) }.max._2 * -1)
    }
    val refined = seedAsg.groupBy(_._3).map { case (cid, members) =>
      val sums = Array.fill(64)(0L)
      members.foreach { case (_, v, _) =>
        v.zipWithIndex.foreach { case (x, i) =>
          sums(i) += math.floor(x.toDouble * 1048576L).toLong } }
      (cid, sums.map(s => s.toDouble / (members.length * 1048576L).toDouble))
    }.toSeq.sortBy(_._1)
    val v9 = all(9)._2
    val expectedCid = assign(refined, v9)
    val v9bucket = Similarity.topkIvfCentroids(vecs, col("vec_id") === 9,
      k = 1, nCentroids = 4).head().getAs[Long]("bucket")
    assert(v9bucket === expectedCid)
  }

  test("Lloyd-refined IVF recall against the brute-force baseline") {
    // recall@k of s06's plan vs s01's exact answer on the real table — the
    // measurement the VERDICT asked to carry with the refinement. A single
    // probe of an 8-cell index cannot be perfect; the assertion pins a
    // floor so a refinement regression (e.g. a broken reassignment) fails.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 40 === 0
    val exact = Similarity.topkBruteForce(emb, pred, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.topkIvfCentroids(emb, pred, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = approx.intersect(exact).size.toDouble / exact.size
    info(f"s06 recall@3 vs s01: $recall%.3f (${approx.intersect(exact).size}/${exact.size})")
    assert(recall >= 0.3, f"refined-IVF recall collapsed: $recall%.3f")
  }

  test("product-quantization ANN: reconstruction ranking with a recall floor") {
    // s07 vs s01 on the real table: PQ ranks every candidate by the
    // reconstruction COSINE (ADC numerator over reconstructed norm), so
    // with M=16 sub-spaces × K=16 codes the top-k should overlap the exact
    // answer substantially; the floor catches a broken codebook refinement
    // or a scrambled code join.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 40 === 0
    val exact = Similarity.topkBruteForce(emb, pred, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.topkPq(emb, pred, k = 3)
    val rows = approx.collect()
    assert(rows.nonEmpty)
    // ranks contiguous from 1, k respected, self never among candidates
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length.toLong))
      assert(rs.length <= 3)
      assert(!rs.exists(_.getAs[Long]("cand_id") == q), "self-match leaked")
    }
    val approxSet = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = approxSet.intersect(exact).size.toDouble / exact.size
    info(f"s07 recall@3 vs s01: $recall%.3f (${approxSet.intersect(exact).size}/${exact.size})")
    assert(recall >= 0.3, f"PQ recall collapsed: $recall%.3f")
    // the ADC score is a true inner-product approximation: for one query,
    // reconstruct the candidate from its codes and compare — equal by
    // construction (lut(m, code) = <q_m, cent(m, code)>)
    val q0 = rows.map(_.getAs[Long]("query_id")).min
    val top = rows.filter(_.getAs[Long]("query_id") == q0)
      .minBy(_.getAs[Long]("rank"))
    assert(!top.getAs[Double]("adc_score").isNaN)
  }

  test("IVF-PQ composes cell pruning with residual codebooks; recall floor") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 40 === 0
    val exact = Similarity.topkBruteForce(emb, pred, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val rows = Similarity.topkIvfPq(emb, pred, k = 3).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to rs.length.toLong))
      assert(!rs.exists(_.getAs[Long]("cand_id") == q), "self-match leaked")
    }
    val approx = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    info(f"s08 recall@3 vs s01: $recall%.3f (${approx.intersect(exact).size}/${exact.size})")
    assert(recall >= 0.3, f"IVF-PQ recall collapsed: $recall%.3f")
    // pruning really prunes: with an unbounded k the candidate set per
    // query is the PROBED CELLS' population, strictly less than the corpus
    // (flat PQ at the same k would return every other vector)
    val n = emb.count()
    val unbounded = Similarity.topkIvfPq(emb, pred, k = n.toInt)
      .groupBy("query_id").count().collect()
    unbounded.foreach { r =>
      assert(r.getLong(1) < n - 1,
        s"query ${r.get(0)}: nprobe=2 of 8 cells must prune candidates " +
          s"(got ${r.getLong(1)} of ${n - 1})")
    }
  }

  test("persisted PQ/IVF-PQ index parity: build→parquet→read→query is " +
      "bit-identical to the in-query forms, and the geometry guard trips") {
    // the r10 split's contract: routing s07/s08 through a persisted index
    // (the ingest-cadence build production runs) must not change one bit of
    // the result — same discipline as the StreamingSpec batch-parity tests.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 40 === 0
    val tmp = tempDir("graft_pq_idx")
    val (cb, codes) = Similarity.buildPqIndex(emb)
    cb.write.parquet(tmp.resolve("pq_codebooks.parquet").toString)
    codes.write.parquet(tmp.resolve("pq_codes.parquet").toString)
    val cbR = spark.read.parquet(tmp.resolve("pq_codebooks.parquet").toString)
    val codesR = spark.read.parquet(tmp.resolve("pq_codes.parquet").toString)
    val direct = Similarity.topkPq(emb, pred, k = 3).collect().toSeq
    val indexed = Similarity.topkPqAgainstIndex(emb.filter(pred),
      cbR, codesR, k = 3).collect().toSeq
    assert(indexed === direct, "PQ persisted-index result diverged")
    // geometry guard: a reader with mismatched sub-space slicing must be
    // refused loudly, not allowed to score garbage (planes-guard class)
    val e = intercept[IllegalArgumentException] {
      Similarity.topkPqAgainstIndex(emb.filter(pred), cbR, codesR, k = 3,
        subspaces = 8, dims = 64).collect()
    }
    assert(e.getMessage.contains("subspaces"))

    val (ict, icb, icodes) = Similarity.buildIvfPqIndex(emb)
    ict.write.parquet(tmp.resolve("ivfpq_centroids.parquet").toString)
    icb.write.parquet(tmp.resolve("ivfpq_codebooks.parquet").toString)
    icodes.write.parquet(tmp.resolve("ivfpq_codes.parquet").toString)
    val ictR = spark.read.parquet(tmp.resolve("ivfpq_centroids.parquet").toString)
    val icbR = spark.read.parquet(tmp.resolve("ivfpq_codebooks.parquet").toString)
    val icodesR = spark.read.parquet(tmp.resolve("ivfpq_codes.parquet").toString)
    val direct2 = Similarity.topkIvfPq(emb, pred, k = 3).collect().toSeq
    val indexed2 = Similarity.topkIvfPqAgainstIndex(emb.filter(pred), emb,
      ictR, icbR, icodesR, k = 3).collect().toSeq
    assert(indexed2 === direct2, "IVF-PQ persisted-index result diverged")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.topkIvfPqAgainstIndex(emb.filter(pred), emb,
        ictR, icbR, icodesR, k = 3, nCells = 4).collect()
    }
    assert(e2.getMessage.contains("nCells"))
  }

  test("PQ append/drift: appending codes bitwise like the build; drift " +
      "separates cohorts") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // 1. append parity — the maintenance contract: coding a subset under
    //    the SAME codebooks reproduces the build's codes for it bitwise
    //    (a rebuild changes codebooks, never the meaning of a code)
    val (cb, codes) = Similarity.buildPqIndex(emb)
    val some = emb.filter(col("vec_id") % 3 === 1)
    val appended = Similarity.appendToPqIndex(some, cb)
      .orderBy(col("vec_id")).collect().toSeq
    val fromBuild = codes.join(some.select(col("vec_id")), Seq("vec_id"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(appended.nonEmpty && appended === fromBuild,
      "append under frozen codebooks diverged from the build's coding")
    // 2. the append follows the INDEX's geometry, not a caller default
    val (cb8, _) = Similarity.buildPqIndex(emb, subspaces = 8,
      codebookSize = 8)
    val app8 = Similarity.appendToPqIndex(some.limit(5), cb8)
    assert(app8.select(size(col("codes"))).head().getInt(0) === 8,
      "append must read subspaces from the codebook table")
    // 3. drift: cohorts partition the corpus; on this corpus the frozen
    //    quantizer fits its training data better than the appended cohort
    //    (deterministic for the fixed testdata — the rebuild signal the
    //    metric exists to expose)
    val trainPred = col("vec_id") % 4 =!= 0
    val (cbT, codesT) = Similarity.buildPqIndex(emb.filter(trainPred))
    val appT = Similarity.appendToPqIndex(emb.filter(!trainPred), cbT)
    val drift = Similarity.pqIndexDrift(emb, cbT,
      codesT.unionByName(appT),
      when(trainPred, lit("trained")).otherwise(lit("appended"))).collect()
    assert(drift.map(_.getString(0)).toSeq === Seq("appended", "trained"))
    assert(drift.map(_.getLong(1)).sum === emb.count())
    val Seq(appErr, trErr) = drift.map(_.getDouble(2)).toSeq
    assert(trErr > 0 && appErr > trErr,
      s"expected appended-cohort error above trained ($appErr vs $trErr)")
    // 4. IVF-PQ append: coarse cell AND residual codes reproduce the
    //    build's row bitwise under the frozen quantizer pair
    val (ict, icb, icodes) = Similarity.buildIvfPqIndex(emb)
    val iApp = Similarity.appendToIvfPqIndex(some, ict, icb)
      .orderBy(col("vec_id")).collect().toSeq
    val iBuild = icodes.join(some.select(col("vec_id")), Seq("vec_id"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(iApp.nonEmpty && iApp === iBuild,
      "IVF-PQ append under frozen quantizers diverged from the build")
    // 5. IVF-PQ drift over residual space: cohorts partition the corpus,
    //    and the residual quantizer reconstructs BETTER than the flat one
    //    on the same corpus (Jégou's IVFADC argument, visible in the
    //    metric — deterministic for the fixed testdata)
    val iDrift = Similarity.ivfPqIndexDrift(emb, ict, icb, icodes,
      when(trainPred, lit("trained")).otherwise(lit("appended"))).collect()
    assert(iDrift.map(_.getString(0)).toSeq === Seq("appended", "trained"))
    assert(iDrift.map(_.getLong(1)).sum === emb.count())
    val flatAll = Similarity.pqIndexDrift(emb, cb, codes, lit("all"))
      .head().getDouble(2)
    val residAll = Similarity.ivfPqIndexDrift(emb, ict, icb, icodes,
      lit("all")).head().getDouble(2)
    assert(residAll > 0 && residAll < flatAll,
      s"residual quantization should beat flat at equal bits " +
        s"($residAll vs $flatAll)")
  }

  test("PQ codes compaction: marker-committed generations, torn run " +
      "invisible, GC after one grace cycle") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = tempDir("graft_pq_compact")
      .resolve("index").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().toSeq
    // build on a third of the corpus, append two "batches" of the rest
    val base = emb.filter(col("vec_id") % 3 === 0)
    val (cb, codes) = Similarity.buildPqIndex(base)
    cb.write.parquet(s"$idx/codebooks")
    codes.write.parquet(s"$idx/codes")
    def appendBatch(b: Long, pred: org.apache.spark.sql.Column): Unit = {
      val batch = Similarity.appendToPqIndex(emb.filter(pred), cb)
      assert(batch.count() > 0, s"test batch $b must be non-empty")
      batch.withColumn("batch_id", lit(b))
        .write.partitionBy("batch_id").mode("append")
        .parquet(s"$idx/codes_appended")
    }
    appendBatch(0, col("vec_id") % 3 === 1)
    appendBatch(1, col("vec_id") % 3 === 2)
    val before = rows(Similarity.readPqCodes(spark, idx))
    assert(before.size === emb.count())
    // torn compaction: a generation dir WITHOUT its marker is invisible
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$idx/codes_g99"))
    assert(rows(Similarity.readPqCodes(spark, idx)) === before)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/codes_g99"))
    // compact 1: absorbs batches 0-1; content identical; delta retained
    // for in-flight readers (GC happens NEXT run)
    val g1 = Similarity.compactPqIndex(spark, idx)
    assert(g1 === 1L)
    assert(rows(Similarity.readPqCodes(spark, idx)) === before)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_appended/batch_id=1")))
    // a post-compaction batch stays live in the delta
    appendBatch(2, col("vec_id") === 0) // re-coding vec 0 as a new row
    assert(rows(Similarity.readPqCodes(spark, idx)).size
      === before.size + 1)
    // compact 2: absorbs batch 2, GCs gen-0 leftovers = batches <= 1
    val g2 = Similarity.compactPqIndex(spark, idx)
    assert(g2 === 2L)
    assert(rows(Similarity.readPqCodes(spark, idx)).size
      === before.size + 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_appended/batch_id=0")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_appended/batch_id=1")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_g1")),
      "previous generation survives one grace cycle")
    // compact 3 (no new batches): content stable, gen1 now GC'd
    Similarity.compactPqIndex(spark, idx)
    assert(rows(Similarity.readPqCodes(spark, idx)).size
      === before.size + 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_g1")))
  }

  test("PQ compaction claim-lock: a held lock no-ops the loser, a stale " +
      "lock with no progress is stolen") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = tempDir("graft_pq_lock")
      .resolve("index").toString
    val (cb, codes) = Similarity.buildPqIndex(
      emb.filter(col("vec_id") % 2 === 0))
    cb.write.parquet(s"$idx/codebooks")
    codes.write.parquet(s"$idx/codes")
    Similarity.appendToPqIndex(emb.filter(col("vec_id") % 2 === 1), cb)
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$idx/codes_appended")
    // a LIVE concurrent compactor holds the lock: this run must no-op —
    // no new generation, delta untouched, current gen (0 = base) returned
    val lock = java.nio.file.Paths.get(s"$idx/_GRAFT_PQ_COMPACT.lock")
    java.nio.file.Files.createFile(lock)
    assert(Similarity.compactPqIndex(spark, idx) === 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_g1")),
      "loser must not write a generation")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/codes_appended/batch_id=0")))
    // a STALE lock (crashed holder — old mtime, no marked progress) is
    // stolen at each of the three claim sites: the holder also left an
    // unmarked next-generation (next-version) dir and a staging dir, and
    // one maintenance call removes both, commits and releases the lock
    def crashed(root: String, lockName: String, next: String)(
        maintain: => Any, committed: Any, marker: String): Unit = {
      def p(n: String) = java.nio.file.Paths.get(s"$root/$n")
      val stage = s"${next}__deadbeef"
      Seq(next, stage).foreach { d =>
        java.nio.file.Files.createDirectories(p(d))
        java.nio.file.Files.writeString(p(s"$d/torn"), "crashed holder")
      }
      if (!java.nio.file.Files.exists(p(lockName)))
        java.nio.file.Files.createFile(p(lockName))
      java.nio.file.Files.setLastModifiedTime(p(lockName),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600 * 1000L))
      assert(maintain === committed, s"$root: the steal commits")
      assert(!java.nio.file.Files.exists(p(s"$next/torn")),
        s"$root: torn $next reclaimed")
      assert(!java.nio.file.Files.exists(p(stage)), s"$root: staging reclaimed")
      assert(java.nio.file.Files.exists(p(s"$next/$marker")),
        s"$root: $next committed by marker")
      assert(!java.nio.file.Files.exists(p(lockName)),
        s"$root: lock released after commit")
    }
    crashed(idx, "_GRAFT_PQ_COMPACT.lock", "codes_g1")(
      Similarity.compactPqIndex(spark, idx), 1L, "_GRAFT_PQ_GEN")
    assert(Similarity.readPqCodes(spark, idx)
      .select("vec_id").distinct().count() === emb.count())
    // sequential runs still chain normally after the steal
    assert(Similarity.compactPqIndex(spark, idx) === 2L)
    val learned = tempDir("graft_learned_lock").resolve("index").toString
    val knowledge = emb.select(col("vec_id").as("ex_id"))
    knowledge.filter(col("ex_id") % 2 === 0).write.parquet(s"$learned/base")
    knowledge.filter(col("ex_id") % 2 === 1)
      .withColumn("batch_id", col("ex_id") % 3)
      .write.partitionBy("batch_id").parquet(s"$learned/learned")
    crashed(learned, "_GRAFT_LEARNED_COMPACT.lock", "learned_g1")(
      Dedup.compactLearnedDelta(spark, learned), 1L, "_GRAFT_LEARNED_GEN")
    assert(Dedup.readWithLearned(spark, learned).count() === emb.count())
    val container = tempDir("graft_root_lock").resolve("container").toString
    crashed(container, "v-00000001.lock", "v-00000001")(
      Similarity.commitPqRoot(spark, emb, container), Some(1L),
      "_GRAFT_PQ_ROOT")
    assert(Similarity.resolvePqIndexPath(spark, container)
      .endsWith("v-00000001"))
  }

  test("minhashLsh band-frequency cap bounds a degenerate hot band") {
    // 80 exact-duplicate docs: every band signature collides on all 80 —
    // uncapped, the band self-join expands to 80·79/2 pairs per band
    val hot = (1L to 80L).map(i => (i, "w1 w2 w3 w4 w5 w6")) :+
      (200L, "totally different content here entirely")
    val df = hot.toDF("doc_id", "text")
    val uncapped = Dedup.minhashLsh(df, maxBandFreq = Long.MaxValue)
    assert(uncapped.count() === 80L * 79 / 2)
    // capped at 64: the mega-bucket is dropped BEFORE pair expansion
    assert(Dedup.minhashLsh(df, maxBandFreq = 64).count() === 0)
    // the cap only drops mega-buckets: a bucket at the cap still pairs
    val ok = (1L to 64L).map(i => (i, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    assert(Dedup.minhashLsh(ok, maxBandFreq = 64).count() === 64L * 63 / 2)
  }

  test("drift-triggered rebuild: append drifted vectors, drift trips, " +
      "readers flip to a root bit-identical to a cold build") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val roots = tempDir("graft_pq_roots")
      .resolve("container").toString
    // cold start: a container with no committed version builds v1
    assert(Similarity.rebuildPqRootIfDrifted(spark, emb, roots)
      === Some(1L))
    val v1 = Similarity.resolvePqIndexPath(spark, roots)
    assert(v1.endsWith("v-00000001"))
    // arrivals from a DIFFERENT distribution (scaled + shifted) append
    // under v1's frozen codebooks — the index serves them, badly
    val drifted = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 10.0 + 5.0 AS FLOAT))")
          .as("embedding"))
    val cb1 = spark.read.parquet(s"$v1/codebooks")
    Similarity.appendToPqIndex(drifted, cb1)
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$v1/codes_appended")
    val corpus = emb.unionByName(drifted)
    // the monitor sees the appended cohort's error blow past trained ×1.25
    val d = Similarity.pqRootDrift(spark, corpus, v1).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(d("appended") > d("trained") * 1.25,
      s"drift fixture must trip: $d")
    // ... so the maintenance entry rebuilds into v2 and flips readers
    assert(Similarity.rebuildPqRootIfDrifted(spark, corpus, roots)
      === Some(2L))
    val v2 = Similarity.resolvePqIndexPath(spark, roots)
    assert(v2.endsWith("v-00000002"))
    // the flipped root is BIT-IDENTICAL to a cold build on the corpus
    val (coldCb, coldCodes) = Similarity.buildPqIndex(corpus)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().toSeq
    assert(rows(spark.read.parquet(s"$v2/codes")) === rows(coldCodes))
    // ... and queries against it reproduce the cold build's neighbors
    val q = corpus.filter(col("vec_id") % 40 === 0 && col("vec_id") < 2000)
    assert(rows(Similarity.topkPqAgainstIndex(q,
        spark.read.parquet(s"$v2/codebooks"),
        Similarity.readPqCodes(spark, v2), k = 3))
      === rows(Similarity.topkPqAgainstIndex(q, coldCb, coldCodes, k = 3)))
    // fresh appends now measure against v2's training snapshot: no trip
    assert(Similarity.rebuildPqRootIfDrifted(spark, corpus, roots) === None)
  }

  test("IVF-PQ drift-triggered rebuild grows the coarse quantizer with " +
      "the corpus and flips readers") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val roots = tempDir("graft_ivfpq_roots")
      .resolve("container").toString
    assert(Similarity.rebuildIvfPqRootIfDrifted(spark, emb, roots)
      === Some(1L))
    val v1 = Similarity.resolvePqIndexPath(spark, roots)
    val drifted = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 10.0 + 5.0 AS FLOAT))")
          .as("embedding"))
    Similarity.appendToIvfPqIndex(drifted,
        spark.read.parquet(s"$v1/centroids"),
        spark.read.parquet(s"$v1/codebooks"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$v1/codes_appended")
    val corpus = emb.unionByName(drifted)
    assert(Similarity.rebuildIvfPqRootIfDrifted(spark, corpus, roots)
      === Some(2L))
    val v2 = Similarity.resolvePqIndexPath(spark, roots)
    assert(v2.endsWith("v-00000002"))
    // the coarse quantizer GREW: v1 trained 500 vecs in 8 cells
    // (cell size 62); 700 vecs rebuild to ceil(700/62) = 12 cells
    val g2 = spark.read.parquet(s"$v2/centroids")
      .select("n_cells").head().getInt(0)
    assert(g2 === 12, s"n_cells must grow with the corpus, got $g2")
    // bit-identical to a cold build at the same grown geometry
    val (coldCt, coldCb, coldCodes) =
      Similarity.buildIvfPqIndex(corpus, nCells = g2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().toSeq
    assert(rows(spark.read.parquet(s"$v2/codes")) === rows(coldCodes))
    val q = corpus.filter(col("vec_id") % 40 === 0 && col("vec_id") < 2000)
    def qrows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rank")).collect().toSeq
    assert(qrows(Similarity.topkIvfPqAgainstIndex(q, corpus,
        spark.read.parquet(s"$v2/centroids"),
        spark.read.parquet(s"$v2/codebooks"),
        Similarity.readPqCodes(spark, v2), k = 3, nCells = g2))
      === qrows(Similarity.topkIvfPqAgainstIndex(q, corpus,
        coldCt, coldCb, coldCodes, k = 3, nCells = g2)))
    assert(Similarity.rebuildIvfPqRootIfDrifted(spark, corpus, roots)
      === None)
  }

  test("indexed registry entries read a persisted index dir, following its geometry") {
    // the exact path the Bench overlay exercises: a dir carrying symlinked
    // data tables plus pq_*/ivfpq_* parquet indexes. The IVF-PQ index is
    // deliberately built with NON-default geometry (nCells=4) to prove the
    // reader follows the index's persisted columns, not a hardcoded default
    // — an ingest-cadence rebuild legitimately re-sizes the quantizer.
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir)
    val pred = col("vec_id") % 40 === 0 && col("vec_id") < 2000
    val tmp = tempDir("graft_idx_dir")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      java.nio.file.Files.createSymbolicLink(tmp.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(sfDir, s"$t.parquet"))
    val (cb, codes) = Similarity.buildPqIndex(emb)
    cb.write.parquet(tmp.resolve("pq_codebooks.parquet").toString)
    codes.write.parquet(tmp.resolve("pq_codes.parquet").toString)
    val (ict, icb, icodes) = Similarity.buildIvfPqIndex(emb, nCells = 4)
    ict.write.parquet(tmp.resolve("ivfpq_centroids.parquet").toString)
    icb.write.parquet(tmp.resolve("ivfpq_codebooks.parquet").toString)
    icodes.write.parquet(tmp.resolve("ivfpq_codes.parquet").toString)

    val viaDir = graft.EntryOps.topkPqIndexed(spark, tmp.toString)
      .collect().toSeq
    val direct = Similarity.topkPq(emb, pred, k = 3).collect().toSeq
    assert(viaDir === direct, "dir-read PQ path diverged from direct")

    val viaDir2 = graft.EntryOps.topkIvfPqIndexed(spark, tmp.toString)
      .collect().toSeq
    val direct2 = Similarity.topkIvfPqAgainstIndex(emb.filter(pred), emb,
      ict, icb, icodes, k = 3, nCells = 4).collect().toSeq
    assert(viaDir2 === direct2,
      "dir-read IVF-PQ path must follow the index's nCells=4 geometry")
    // and the geometry really differed from the default build
    val default2 = Similarity.topkIvfPq(emb, pred, k = 3).collect().toSeq
    assert(viaDir2 !== default2,
      "nCells=4 index should produce a different probe set than nCells=8" +
        " — if equal, the geometry read is untested")
  }

  test("reliable barrier mode: storage-backed checkpoints, bit-identical results") {
    // r9 verdict item 3: localCheckpoint blocks die with their executor, so
    // cluster runs flip spark.graft.reliableBarriers=true and every barrier
    // becomes a storage-backed checkpoint. Same results either way — the
    // barrier is an execution fence, never a semantic operator.
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val edges = Dedup.simhashNearDup64(d, maxHamming = 3)
      .select(col("doc1"), col("doc2"))
    val local = Dedup.clusterComponents(d, edges).collect().toSeq
    val ckDir = tempDir("graft_ck")
    val prevCk = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set(graft.ops.Barrier.ConfKey, "true")
    try {
      val reliable = Dedup.clusterComponents(d, edges).collect().toSeq
      assert(reliable === local,
        "reliable barriers must not change one bit of the result")
      // the blocks really went to storage, not executor memory
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(ckDir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, "reliable mode must write checkpoint files")
    } finally {
      spark.conf.unset(graft.ops.Barrier.ConfKey)
      prevCk.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("semantic dedup: dominance keeps the far-from-centroid edge examples") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.semanticDedup(emb, minCosine = 0.3).collect()
    assert(out.length === emb.count())
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    out.foreach { r =>
      val kept = r.getAs[String]("action") == "kept"
      // removed_by is the verdict's witness: present iff removed
      assert(kept === (r.get(r.fieldIndex("removed_by")) == null))
      // an item with no duplicate-neighbors can never be removed
      if (r.getAs[Long]("n_dups") == 0L) assert(kept)
      if (!kept) {
        // the witness is a real cluster-mate that outranks this item under
        // the SemDeDup policy (lower centroid-cosine survives)
        val w = byId(r.getAs[Long]("removed_by"))
        assert(w.getAs[Long]("bucket") === r.getAs[Long]("bucket"))
        val (wc, rc) = (w.getAs[Double]("centroid_cos"),
          r.getAs[Double]("centroid_cos"))
        assert(wc < rc || (wc == rc
          && w.getAs[Long]("vec_id") < r.getAs[Long]("vec_id")))
      }
    }
    val removed = out.count(_.getAs[String]("action") == "removed")
    info(s"semantic dedup: $removed of ${out.length} removed")
    assert(removed > 0, "sf0.001 corpus is known to contain semantic dups")
    // survivors are duplicate-free among THEMSELVES under the dominance
    // rule only when neighborhoods are cliques; what IS guaranteed: every
    // duplicate-pair loses at most one... exactly: of any dup pair, the
    // earlier-ranked item never names the later as its witness
    out.filter(_.getAs[String]("action") == "removed").foreach { r =>
      val w = byId(r.getAs[Long]("removed_by"))
      assert(!(w.getAs[String]("action") == "removed"
        && w.getAs[Long]("removed_by") == r.getAs[Long]("vec_id")),
        "mutual removal witnesses: dominance must be antisymmetric")
    }
  }

  test("sequence packing: every sequence full, no token lost, slices contiguous") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.packSequences(d, seqLen = 128, shards = 16).collect()
    assert(out.nonEmpty)
    // every packed sequence holds exactly 128 tokens except each stream's
    // final one (the concat-then-cut guarantee: no padding, no short rows)
    val bySeq = out.groupBy(r => (r.getAs[String]("lang"),
      r.getAs[Long]("shard"), r.getAs[Long]("seq_idx")))
    val streams = out.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
    streams.foreach { case ((lang, shard), rows) =>
      val last = rows.map(_.getAs[Long]("seq_idx")).max
      (0L to last).foreach { s =>
        val tot = bySeq((lang, shard, s)).map(_.getAs[Long]("take_n")).sum
        if (s < last) assert(tot === 128L, s"($lang,$shard,$s) not full: $tot")
        else assert(tot > 0 && tot <= 128L)
      }
    }
    // no token lost or duplicated: per doc the slices cover [0, doc_tokens)
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("take_from"))
      assert(sorted.map(_.getAs[Long]("take_n")).sum ===
        sorted.head.getAs[Long]("doc_tokens"), s"doc $id tokens lost")
      sorted.foldLeft(0L) { (expect, r) =>
        assert(r.getAs[Long]("take_from") === expect, s"doc $id gap")
        expect + r.getAs[Long]("take_n")
      }
    }
  }

  test("mixture sampling realizes fractional epoch weights deterministically") {
    import org.apache.spark.sql.functions.{col => c}
    val out = EntryOps.mixtureSample(spark, "/root/testdata/sf0.001").collect()
    // epochs are contiguous from 0 per doc
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      assert(rows.map(_.getAs[Long]("epoch")).sorted.toSeq ===
        (0L until rows.length.toLong), s"doc $id epochs not contiguous")
      assert(rows.head.getAs[Long]("n_copies") === rows.length.toLong)
    }
    // per-source realized epochs track the fractional weight: with 25
    // docs/source at sf0.001 the md5-uniform keeps the mean within ~0.35
    // of the target (3-sigma of a Bernoulli over 25 draws is ~0.3)
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val perSource = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val w = rows.head.getAs[Long]("weight_mille").toDouble / 1000.0
      val realized = rows.length.toDouble / perSource(src)
      assert(math.abs(realized - w) < 0.35,
        f"$src: realized $realized%.2f epochs vs weight $w%.2f")
    }
    // weight >= 1x sources never drop a document entirely
    val kept = out.map(_.getAs[Long]("doc_id")).toSet
    d.select("doc_id", "source").collect().foreach { r =>
      val n = r.getString(1).stripPrefix("src").toInt
      if (250 + (n % 7) * 250 >= 1000)
        assert(kept.contains(r.getLong(0)),
          s"doc ${r.getLong(0)} of >=1-epoch source ${r.getString(1)} dropped")
    }
  }

  test("e03 packs e02's chunks into full rows with provenance intact") {
    val out = EntryOps.packedCorpus(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val bySeq = out.groupBy(r => (r.getAs[String]("lang"),
      r.getAs[Long]("shard"), r.getAs[Long]("seq_idx")))
    out.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case ((lang, shard), rows) =>
        val last = rows.map(_.getAs[Long]("seq_idx")).max
        (0L to last).foreach { s =>
          val tot = bySeq((lang, shard, s)).map(_.getAs[Long]("take_n")).sum
          if (s < last) assert(tot === 128L, s"($lang,$shard,$s): $tot")
          else assert(tot > 0 && tot <= 128L)
        }
      }
    // every slice attributes to a surviving (doc, chunk) of the pipeline
    val seqs = EntryOps.trainingSequences(spark, "/root/testdata/sf0.001")
      .select("doc_id", "chunk_idx", "chunk_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.groupBy(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")))
      .foreach { case (key, rows) =>
        assert(seqs.contains(key), s"slice for non-surviving chunk $key")
        assert(rows.map(_.getAs[Long]("take_n")).sum === seqs(key),
          s"chunk $key tokens lost across packed rows")
      }
  }

  test("sourceClassifier predicts from smoothed token likelihoods") {
    // train = doc_id % 5 != 0, test = % 5 == 0; sources have disjoint vocab
    val d = Seq(
      (1L, "A", "apple apple banana"), (2L, "A", "apple fruit"),
      (3L, "B", "rust iron metal"), (4L, "B", "iron rust"),
      (5L, "A", "apple banana"),        // test: clearly A
      (10L, "B", "iron metal rust"),    // test: clearly B
      (15L, "B", "zz yy")               // test: all-unseen → tie → min source
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceClassifier(d, isTest = $"doc_id" % 5 === 0)
      .select("doc_id", "predicted", "correct")
      .as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((5L, "A", 1L), (10L, "B", 1L), (15L, "A", 0L)),
      "unseen-vocab doc must tie-break to the alphabetically first source")
  }

  test("duplicatedSpans merges adjacent cross-doc grams into maximal spans") {
    // docs 1/2 share "c d e f g h" (6 words); with n=3 that is 4 adjacent
    // duplicated grams starting at word 3 of each doc. doc 3 shares nothing
    // contiguous; doc 4 repeats a gram WITHIN itself only (within-doc
    // repetition is t10's signal, not a span here).
    val d = Seq(
      (1L, "a1 b1 c d e f g h i1 j1"),
      (2L, "a2 b2 c d e f g h i2 j2"),
      (3L, "p q r s t u v w"),
      (4L, "m n o m n o m n o")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(d, n = 3)
      .select("doc_id", "span_start", "span_end", "span_tokens", "dup_grams")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 3L, 8L, 6L, 4L), (2L, 3L, 8L, 6L, 4L)))
    // two SEPARATE shared regions in one doc stay two spans (the run breaks)
    val d2 = Seq(
      (1L, "c d e x1 y1 z1 f g h"),
      (2L, "c d e x2 y2 z2 f g h")
    ).toDF("doc_id", "text")
    val out2 = Dedup.duplicatedSpans(d2, n = 3)
      .select("doc_id", "span_start", "span_end").as[(Long, Long, Long)]
      .collect()
    assert(out2.toSeq === Seq((1L, 1L, 3L), (1L, 7L, 9L),
      (2L, 1L, 3L), (2L, 7L, 9L)))
    // the df cap drops boilerplate grams: "c d e" in all three docs vanishes
    // at maxDocFreq = 2 while the 2-doc "f g h" span survives
    val d3 = Seq(
      (1L, "c d e k1 f g h"),
      (2L, "c d e k2 f g h"),
      (3L, "c d e k3 q r s")
    ).toDF("doc_id", "text")
    val out3 = Dedup.duplicatedSpans(d3, n = 3, maxDocFreq = 2)
      .select("doc_id", "span_start").as[(Long, Long)].collect()
    assert(out3.toSeq === Seq((1L, 5L), (2L, 5L)))
  }

  test("removeDuplicatedSpans cuts long shared spans, keeps short ones") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10-word overlap
    val d = Seq(
      (1L, s"u1 $shared v1 w1"),
      (2L, s"u2 $shared v2 w2"),
      (3L, "a b c d e x1 y1 z1"), // 5-word overlap → span below threshold
      (4L, "a b c d e x2 y2 z2")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(d, n = 3, minSpanTokens = 10)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, 13L, 3L, 10L, "u1 v1 w1"),
      (2L, 1L, 13L, 3L, 10L, "u2 v2 w2"),
      (3L, 0L, 8L, 8L, 0L, "a b c d e x1 y1 z1"),
      (4L, 0L, 8L, 8L, 0L, "a b c d e x2 y2 z2")))
  }

  test("spanScrubAgainstIndex cuts corpus-known spans from arrivals only") {
    val known = (1 to 12).map(i => s"k$i").mkString(" ") // 12 corpus words
    val corpus = Seq((100L, s"pre $known post")).toDF("doc_id", "text")
    val idx = Dedup.buildGramIndex(corpus, n = 3)
    val arrivals = Seq(
      (1L, s"a1 b1 $known y1 z1"),   // embeds the corpus substring
      (2L, "entirely novel arrival") // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrubAgainstIndex(arrivals, idx, n = 3,
        minSpanTokens = 10)
      .select("doc_id", "n_spans", "removed_tokens", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, 12L, "a1 b1 y1 z1"),
      (2L, 0L, 0L, "entirely novel arrival")))
  }

  test("clusterComponents collapses chains to min-id groups, keeps singletons") {
    // chain 1-2, 2-3 (1 and 3 never paired directly), separate pair 10-11,
    // singleton 20; edges deliberately listed max-id-first to prove the
    // propagation is direction-independent
    val ds = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L)).toDF("doc1", "doc2")
    val out = Dedup.clusterComponents(ds, edges)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L), (20L, 20L, 1L)))
  }

  test("clusterComponents: empty edge list yields all singletons (r20 init path)") {
    // the r20 initialization folds round 1 into a min-aggregate over the
    // edge list and detects emptiness from the same action — an empty
    // graph must take the early exit and label every doc its own singleton
    val ds = Seq(5L, 7L).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    val out = Dedup.clusterComponents(ds, edges)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((5L, 5L, 1L), (7L, 7L, 1L)))
  }

  test("clusterComponents: single pair is fixpoint at the folded round 1") {
    // diameter-1 graph: the r20 init (label = min(u, min N(u))) is already
    // the fixpoint; the loop's first join round must CONFIRM (equal label
    // sum), not drift
    val ds = Seq(3L, 9L).toDF("doc_id")
    val edges = Seq((9L, 3L)).toDF("doc1", "doc2")
    val out = Dedup.clusterComponents(ds, edges)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((3L, 3L, 2L), (9L, 3L, 2L)))
  }

  test("clusterComponents: vertex ids >= 2^62 give the same components " +
      "(exact first convergence sum)") {
    // six active labels near 2^62 sum past Long.MaxValue: the first
    // convergence sum must be as exact as every later round's
    def components(off: Long): Seq[(Long, Long, Long)] = {
      val ds = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).map(_ + off).toDF("doc_id")
      val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L))
        .map { case (a, b) => (a + off, b + off) }.toDF("doc1", "doc2")
      Dedup.clusterComponents(ds, edges, fallbackToStar = false)
        .select("doc_id", "cluster_id", "cluster_size")
        .as[(Long, Long, Long)].collect().toSeq
        .map { case (d, c, n) => (d - off, c - off, n) }
    }
    val small = components(0L)
    assert(small === Seq((1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L),
      (4L, 1L, 4L), (10L, 10L, 2L), (11L, 10L, 2L), (20L, 20L, 1L)))
    assert(components(1L << 62) === small)
  }

  test("barrierAll returns positionally bit-identical frames to barrier") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val b = Seq((3L, 0.5), (4L, 1.5)).toDF("id", "v")
    val Seq(ba, bb) = graft.ops.Barrier.barrierAll(a, b)
    assert(ba.schema === a.schema && bb.schema === b.schema)
    assert(ba.collect().toSeq === a.collect().toSeq)
    assert(bb.collect().toSeq === b.collect().toSeq)
  }

  test("barrierAll cancels its sibling jobs before rethrowing a frame's failure") {
    val boom = udf((x: Long) => {
      if (x >= 0L) throw new IllegalStateException("frame failed"); x })
    val slow = udf((x: Long) => { Thread.sleep(120000L); x })
    val failing = spark.range(1).select(boom(col("id")).as("id"))
    val sleeping = spark.range(1).select(slow(col("id")).as("id"))
    val t0 = System.nanoTime()
    val e = intercept[Exception](graft.ops.Barrier.barrierAll(failing, sleeping))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("frame failed")))
    org.apache.spark.sql.GraftBridge.drain(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 60.0)
  }

  test("concurrently stays cancellable through the caller's job group and " +
      "by interrupting the caller, leaving no job or thread behind") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val slow = udf((x: Long) => { Thread.sleep(120000L); x })
    def sleeping() = spark.range(1).select(slow(col("id"))).collect().toSeq
    /** Runs a two-thunk call under an outer job group on its own thread,
      * waits until both thunks' jobs run, then stops it with `stop`.
      */
    def stopped(stop: (String, Thread) => Unit): Throwable = {
      val group = s"outer-${java.util.UUID.randomUUID()}"
      val outcome = new java.util.concurrent.atomic.AtomicReference[Any]()
      val caller = new Thread(() => {
        sc.setJobGroup(group, "outer", interruptOnCancel = true)
        outcome.set(try graft.ops.Barrier.concurrently(sc, "graft-cancel-spec",
          Seq(() => sleeping(), () => sleeping()))
        catch { case e: Throwable => e })
      })
      val t0 = System.nanoTime()
      caller.start()
      while (sc.statusTracker.getJobIdsForGroup(group).length < 2 &&
          System.nanoTime() - t0 < 60e9) Thread.sleep(50L)
      stop(group, caller)
      caller.join(90000L)
      assert(!caller.isAlive, "the call must return once stopped")
      assert((System.nanoTime() - t0) / 1e9 < 60.0)
      org.apache.spark.sql.GraftBridge.drain(spark)
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
      assert(!Thread.getAllStackTraces.keySet.asScala
        .exists(_.getName.startsWith("graft-cancel-spec")))
      outcome.get match {
        case e: Throwable => e
        case r => fail(s"a stopped call must throw, returned $r")
      }
    }
    val cancelled = stopped((group, _) => sc.cancelJobGroup(group))
    assert(cancelled.isInstanceOf[org.apache.spark.SparkException], cancelled)
    val interrupted = stopped((_, caller) => caller.interrupt())
    assert(interrupted.isInstanceOf[InterruptedException], interrupted)
  }

  test("clusterComponents converges on a long path (diameter > 2)") {
    // path 1-2-3-4-5-6: min label must walk the whole diameter
    val ds = (1L to 6L).toDF("doc_id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val out = Dedup.clusterComponents(ds, edges)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSeq
    assert(out === (1L to 6L).map(i => (i, 1L)))
  }

  test("clusterComponents fails loudly when the round bound truncates propagation") {
    // same path graph with maxIters too small AND the star fallback off:
    // silently under-merged clusters would be data corruption, so the
    // contract is to throw
    val ds = (1L to 6L).toDF("doc_id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val e = intercept[IllegalStateException] {
      Dedup.clusterComponents(ds, edges, maxIters = 2,
        fallbackToStar = false).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star contraction collapses a 10k-link chain in O(log n) rounds") {
    // the adversarial input for min-label propagation: a path graph of
    // diameter 10 000 (propagation would need 10 000 rounds and throws at
    // its bound); large-star/small-star folds it in ~log2(n) rounds
    val n = 10000L
    val ds = spark.range(1, n + 1).toDF("doc_id")
    val edges = spark.range(1, n).select(col("id").as("doc1"),
      (col("id") + 1).as("doc2"))
    val out = Dedup.clusterComponentsStar(ds, edges)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(out.length === n.toInt)
    assert(out.forall { case (_, cid, sz) => cid == 1L && sz == n })
  }

  test("star contraction handles forests, singletons and max-id-first edges") {
    val ds = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L)).toDF("doc1", "doc2")
    val out = Dedup.clusterComponentsStar(ds, edges)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L), (20L, 20L, 1L)))
  }

  test("clusterComponents hands a bound-defeating graph to the star fallback") {
    // diameter 6 > maxIters 2: instead of throwing, the default contract
    // completes via star contraction with the identical result
    val ds = (1L to 6L).toDF("doc_id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val out = Dedup.clusterComponents(ds, edges, maxIters = 2)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSeq
    assert(out === (1L to 6L).map(i => (i, 1L)))
  }

  test("star contraction agrees with min-label propagation on the d08 edge set") {
    // the swap-in guarantee for d09/d10: both algorithms must produce the
    // same clusters over the REAL near-dup pair list the registry uses
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.simhashNearDup64(docs.select(col("doc_id"), col("text")))
      .select(col("doc1"), col("doc2"))
    val viaLabels = Dedup.clusterComponents(docs, pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSeq
    val viaStar = Dedup.clusterComponentsStar(docs, pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaStar === viaLabels)
  }

  test("langId flags CJK text as zh and defaults to en") {
    val d = Seq((1L, "the cat and the dog", "en"), (2L, "你好 世界", "zh"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "zh")
  }

  test("quality score is monotone in stopword signal and bounded buckets") {
    val d = Seq(
      (1L, "the a of and to the a of and to"),
      (2L, "zzz 123 456 789 000 111")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.quality(d).select("doc_id", "score", "bucket")
      .as[(Long, Double, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 > out(2L)._2)
    assert(Set("low", "medium", "high").contains(out(1L)._3))
  }

  test("scoreCol/bucketCol/maskedCol equal quality()/piiScrub() bit for bit") {
    // the e01/e02 inline projections must not drift from the registered
    // t02/t09 frames — same docs through both paths, exact equality
    // (double score compared bitwise: the factored column is required to
    // be the IDENTICAL arithmetic, not an approximation)
    val d = Seq(
      (1L, "the a of and to the a of and to"),
      (2L, "zzz 123 456 789 000 111"),
      (3L, "mail me at a.b+c@example.com or 555-1234 from 10.1.2.3 now"),
      (4L, "plain words only, eighty characters of ordinary prose and the " +
        "usual stopwords of a document")
    ).toDF("doc_id", "text")
    val viaFrames = TextAnalysis.quality(d).select(col("doc_id"), col("score"),
        col("bucket"))
      .join(TextAnalysis.piiScrub(d).select(col("doc_id"), col("masked")),
        "doc_id")
    val viaCols = d.select(col("doc_id"),
      TextAnalysis.scoreCol(col("text")).as("score"),
      TextAnalysis.maskedCol(col("text")).as("masked"))
      .select(col("doc_id"), col("score"),
        TextAnalysis.bucketCol(col("score")).as("bucket"), col("masked"))
    val a = viaFrames.orderBy("doc_id")
      .as[(Long, Double, String, String)].collect()
    val b = viaCols.orderBy("doc_id")
      .select(col("doc_id"), col("score"), col("bucket"), col("masked"))
      .as[(Long, Double, String, String)].collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case ((id1, s1, bk1, m1), (id2, s2, bk2, m2)) =>
      assert(id1 === id2)
      assert(java.lang.Double.doubleToRawLongBits(s1) ===
        java.lang.Double.doubleToRawLongBits(s2),
        s"score drift at doc $id1: $s1 vs $s2")
      assert(bk1 === bk2)
      assert(m1 === m2)
    }
  }

  test("tokenStats counts whitespace and BPE-ish tokens") {
    val d = Seq((1L, "hello world42!", "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.tokenStats(d).collect()(0)
    assert(out.getAs[Long]("total_ws_tokens") === 2L)
    // hello | world | 42 | !
    assert(out.getAs[Long]("total_bpe_tokens") === 4L)
  }

  test("fingerprint: identical docs share fingerprints") {
    val d = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "h i j k l m n"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.fingerprint(d).select("doc_id", "fingerprint", "bucket_size")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === out(2L)._1)
    assert(out(1L)._2 === 2L)
    assert(out(3L)._2 === 1L)
  }

  test("multimodal stub extracts deterministic features from binary payloads") {
    val d = Seq((1L, "hello", "en", "src", 5L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.extractFeatures(Multimodal.asAssets(d)).collect()(0)
    assert(out.getAs[Long]("n_bytes") === 5L)
    assert(out.getAs[String]("digest16") === "68656c6c6f")
    // "hello" bytes are all in [64,128) → bin 1
    assert(out.getAs[Long]("h0") === 0L)
    assert(out.getAs[Long]("h1") === 5L)
    assert(out.getAs[Long]("h2") === 0L)
    assert(out.getAs[Long]("h3") === 0L)
  }

  test("approx_count_distinct estimates track exact distinct counts") {
    // q28 now emits the bounds verdict itself (hash-checked by the oracle);
    // this spec keeps the independent cross-check: verdicts all green, and
    // the in-plan exact column agrees with the standalone exact aggregate
    val rows = graft.EntryOps.approxDistinct(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bounds"), s"HLL out of bounds: $r")
    }
    val exact = graft.EntryOps.distinctAgg(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") === exact(r.getString(0)))
    }
  }

  test("salted aggregation equals direct groupBy (Skew.saltedSumCount)") {
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L))
      .toDF("k", "v").withColumn("uid", monotonically_increasing_id())
    val salted = graft.ops.Skew.saltedSumCount(d, $"k", $"v", Some($"uid"), 4)
      .orderBy("key").as[(String, Long, Long)].collect()
    assert(salted === Array(("a", 6L, 3L), ("b", 10L, 1L)))
  }

  test("BottomK aggregator keeps the k smallest distinct strings, mergeable") {
    val agg = graft.functions.BottomK(3)
    val partial1 = List("m", "c", "x").foldLeft(agg.zero)(agg.reduce)
    val partial2 = List("a", "m", "z").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(partial1, partial2)) === Seq("a", "c", "m"))
    // duplicates don't displace smaller values
    val dup = List("b", "b", "b", "a").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(dup) === Seq("a", "b"))
  }

  test("BottomK as UDAF matches sort+slice semantics on a DataFrame") {
    val d = Seq((1L, "d"), (1L, "a"), (1L, "c"), (1L, "b"), (2L, "z"))
      .toDF("doc_id", "h")
    val out = d.groupBy($"doc_id")
      .agg(array_join(graft.functions.BottomK.udaf(3)($"h"), ",").as("fp"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(out === Array((1L, "a,b,c"), (2L, "z")))
  }

  test("piiScrub counts and masks emails, phones, and IPv4 without cross-talk") {
    val d = Seq(
      (1L, "mail bob.smith+x@sub.example.co.uk or eve@ex.org soon"),
      (2L, "call 555-0134 not 1234-5678 from 10.1.2.3 or 999.1.2.3x"),
      (3L, "plain text no identifiers here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(d).orderBy("doc_id").collect()
    assert((out(0).getAs[Long]("n_emails"), out(0).getAs[Long]("n_phones"),
      out(0).getAs[Long]("n_ipv4")) === ((2L, 0L, 0L)))
    assert(out(0).getAs[String]("masked") === "mail <EMAIL> or <EMAIL> soon")
    // 1234-5678 must not match the 555 test exchange, and 999.1.2.3x must
    // not match the quad: its trailing \b fails ('3' → 'x' is no boundary)
    assert((out(1).getAs[Long]("n_phones"), out(1).getAs[Long]("n_ipv4")) === ((1L, 1L)))
    assert(out(1).getAs[String]("masked")
      === "call <PHONE> not 1234-5678 from <IP> or 999.1.2.3x")
    assert(out(2).getAs[Long]("has_pii") === 0L)
    assert(out(2).getAs[String]("masked") === "plain text no identifiers here")
  }

  test("repetition: duplicate word/2-gram/3-gram fractions, short-doc guards") {
    val d = Seq(
      (1L, "spam spam spam spam"), // all dup words, all dup 2/3-grams
      (2L, "a b c d"),             // no repetition at all
      (3L, "x"),                   // 1 word: no grams, no division blowup
      (4L, "go go")                // 2 words: one 2-gram, no 3-gram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d).orderBy("doc_id").collect()
    def g(i: Int, c: String) = out(i).getAs[Long](c)
    assert((g(0, "n_words"), g(0, "n_distinct_words"), g(0, "dup_word_mille"))
      === ((4L, 1L, 750L)))
    assert((g(0, "n_2grams"), g(0, "n_distinct_2grams"), g(0, "dup_2gram_mille"))
      === ((3L, 1L, 666L)))
    assert((g(0, "n_3grams"), g(0, "n_distinct_3grams"), g(0, "dup_3gram_mille"))
      === ((2L, 1L, 500L)))
    assert((g(1, "dup_word_mille"), g(1, "dup_2gram_mille"), g(1, "dup_3gram_mille"))
      === ((0L, 0L, 0L)))
    assert((g(2, "n_words"), g(2, "n_2grams"), g(2, "n_3grams")) === ((1L, 0L, 0L)))
    assert((g(3, "n_2grams"), g(3, "n_3grams")) === ((1L, 0L)))
  }

  test("boilerplate: grams above the df threshold are flagged per doc") {
    // 5-gram "v w x y z" appears in ALL 4 docs (df=4 ≥ 4/2=2 with divisor 2);
    // every other gram is unique to its doc
    val d = Seq(
      (1L, "v w x y z p1 q1"),
      (2L, "v w x y z p2 q2"),
      (3L, "v w x y z p3 q3"),
      (4L, "v w x y z")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplate(d, n = 5, divisor = 2)
      .orderBy("doc_id").collect()
    // docs 1-3: 3 distinct 5-grams each, exactly 1 boilerplate
    (0 to 2).foreach { i =>
      assert((out(i).getAs[Long]("n_grams"), out(i).getAs[Long]("n_boiler"),
        out(i).getAs[Long]("boiler_mille")) === ((3L, 1L, 333L)), s"doc ${i + 1}")
    }
    // doc 4 is pure boilerplate
    assert((out(3).getAs[Long]("n_grams"), out(3).getAs[Long]("n_boiler"),
      out(3).getAs[Long]("boiler_mille")) === ((1L, 1L, 1000L)))
  }

  test("dedupAgainst: exact/near/new verdicts, cross-side only, exact wins") {
    val existing = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e f g h"), // byte-identical to 1: exact (and near) → exact
      (11L, "q p r s t u v w"), // 2's words reordered: same SimHash multiset,
                                // different md5 → near, match 2
      (12L, "zz yy xx ww vv uu tt ss"), // unlike anything → new
      (13L, "k1 k2 k3 k4 k5 k6 k7 k8"), // dup of ANOTHER INCOMING doc only:
      (14L, "k1 k2 k3 k4 k5 k6 k7 k8")  // cross-side check → both new
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(incoming, existing).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(10L) === (("exact", 1L)))
    assert(out(11L) === (("near", 2L)))
    assert(out(12L) === (("new", -1L)))
    assert(out(13L) === (("new", -1L)), "incoming×incoming must not match")
    assert(out(14L) === (("new", -1L)))
  }

  test("dedupAgainstIndex's one band join gives the two-join form's verdicts " +
      "on exact, reordered, edited, null and empty texts, duplicate doc_ids " +
      "and min(ex_id) ties") {
    // the earlier form, kept here only as the reference: an md5 join for
    // the exact tier, a separate band join for the near tier
    def twoJoin(incoming: org.apache.spark.sql.DataFrame,
        index: org.apache.spark.sql.DataFrame, maxHamming: Int = 3) = {
      def bands(sh: org.apache.spark.sql.Column) = (0 until 4).map(k =>
        shiftrightunsigned(sh, 48 - 16 * k).bitwiseAND(lit(0xffffL)))
      val exact = incoming.select(col("doc_id"), md5(col("text")).as("h"))
        .join(index.select(col("h"), col("ex_id")), "h")
        .groupBy(col("doc_id")).agg(min(col("ex_id")).as("exact_id"))
      val inb = incoming
        .select(col("doc_id"), graft.functions.SimHash64(col("text")).as("sh"))
        .select(col("doc_id"), col("sh"),
          posexplode(array(bands(col("sh")): _*)).as(Seq("band", "bits")))
      val exb = index.select(col("ex_id"), col("ex_sh"))
        .select(col("ex_id"), col("ex_sh"),
          posexplode(array(bands(col("ex_sh")): _*)).as(Seq("band", "bits")))
      val near = inb.join(exb, Seq("band", "bits"))
        .select(col("doc_id"), col("sh"), col("ex_id"), col("ex_sh"))
        .distinct()
        .filter(bit_count(col("sh").bitwiseXOR(col("ex_sh"))) <= maxHamming)
        .groupBy(col("doc_id")).agg(min(col("ex_id")).as("near_id"))
      incoming.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_id").isNotNull, "exact")
            .when(col("near_id").isNotNull, "near")
            .otherwise("new").as("verdict"),
          coalesce(col("exact_id"), col("near_id")).as("match_id"))
    }
    val rnd = new scala.util.Random(17)
    def text(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(300)}").mkString(" ")
    val texts = IndexedSeq.fill(120)(text(40))
    // duplicate texts in the index: 120 + i repeats text i, so exact
    // matches tie and min(ex_id) must pick i
    val corpus: Seq[(Long, String)] =
      texts.indices.map(i => (i.toLong, texts(i))) ++
        (0 until 10).map(i => (120L + i, texts(i))) ++
        Seq((200L, null), (201L, ""), (202L, ""))
    val index = Dedup.buildCorpusIndex(corpus.toDF("doc_id", "text"))
    def edit(t: String) = {
      val w = t.split(' ')
      w(rnd.nextInt(w.length)) = s"x${rnd.nextInt(1000)}"
      w.mkString(" ")
    }
    val incoming: Seq[(Long, String)] = (0 until 200).map { j =>
      val t = texts(rnd.nextInt(texts.size))
      (1000L + j, j % 5 match {
        case 0 => t
        case 1 => rnd.shuffle(t.split(' ').toSeq).mkString(" ")
        case 2 => edit(t)
        case 3 => edit(edit(edit(t)))
        case _ => text(40)
      })
    } ++ Seq((2000L, null), (2001L, ""), (2002L, texts(3)),
      // one doc_id, two texts: both forms judge the id over both
      (2003L, texts(5)), (2003L, text(40)), (2004L, text(40)), (2004L, edit(texts(7))))
    val in = incoming.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "verdict", "match_id").as[(Long, String, Option[Long])]
        .collect().toSeq.sortBy(_.toString)
    val want = rows(twoJoin(in, index))
    val got = rows(Dedup.dedupAgainstIndex(in, index))
    assert(got === want)
    assert(got.size === incoming.size, "one row per arrival row")
    val tiers = want.groupBy(_._2).map { case (v, rs) => v -> rs.size }
    assert(Seq("exact", "near", "new").forall(tiers.getOrElse(_, 0) > 0), tiers)
    assert(want.contains((2002L, "exact", Some(3L))), "min(ex_id) of a tie")
    assert(want.contains((2000L, "new", None)))
    assert(want.contains((2001L, "exact", Some(201L))), "empty text")
  }

  test("chunk: fixed windows with overlap, contained-tail drop, full coverage") {
    val words100 = (0 until 100).map(i => s"w$i").mkString(" ")
    val words41 = (0 until 41).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words100), (2L, "a b c d e"), (3L, words41))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunk(d, size = 40, overlap = 10)
      .orderBy("doc_id", "chunk_idx").collect()
    val byDoc = out.groupBy(_.getLong(0))
    // 100 words, stride 30: starts 0/30/60 (90 would be a 10-word tail fully
    // inside the previous chunk → dropped); chunk 60 still reaches word 99
    assert(byDoc(1L).map(_.getLong(2)).toSeq === Seq(0L, 30L, 60L))
    assert(byDoc(1L).last.getAs[String]("chunk_text").endsWith("w99"))
    // consecutive chunks share exactly `overlap` words
    val c0 = byDoc(1L)(0).getAs[String]("chunk_text").split(" ")
    val c1 = byDoc(1L)(1).getAs[String]("chunk_text").split(" ")
    assert(c0.takeRight(10).toSeq === c1.take(10).toSeq)
    // short doc: one whole-doc chunk
    assert(byDoc(2L).map(r => (r.getLong(1), r.getLong(3))).toSeq === Seq((0L, 5L)))
    // 41 words: the 11-word tail carries 1 new word → kept
    assert(byDoc(3L).map(_.getLong(3)).toSeq === Seq(40L, 11L))
  }

  test("chunk property: every word lands in a chunk, strides are exact") {
    // coverage invariant across word counts including every boundary around
    // the stride/overlap arithmetic
    val sizes = (1 to 45) ++ Seq(59, 60, 61, 69, 70, 71, 99, 100, 101, 150)
    val d = sizes.map(n => (n.toLong, (0 until n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(d, size = 40, overlap = 10)
      .collect().groupBy(_.getLong(0))
    sizes.foreach { n =>
      val cs = chunks(n.toLong).sortBy(_.getLong(1))
      val starts = cs.map(_.getLong(2))
      // strides are exactly size - overlap
      assert(starts.zip(starts.drop(1)).forall { case (a, b) => b - a == 30 },
        s"n=$n starts=${starts.toSeq}")
      // every word index is covered by some [start, start+40) window
      val covered = cs.flatMap(r =>
        r.getLong(2) until math.min(r.getLong(2) + 40, n.toLong)).toSet
      assert(covered === (0L until n.toLong).toSet, s"n=$n coverage hole")
      // chunk_tokens matches the text split
      cs.foreach { r =>
        assert(r.getAs[String]("chunk_text").split(" ").length ===
          r.getLong(3), s"n=$n chunk ${r.getLong(1)}")
      }
    }
  }

  test("corpusProfile: per-source volumes, vocabulary, and type-token ratio") {
    val d = Seq(
      (1L, "a b a b", "en", "s1", 7L),
      (2L, "a c", "fr", "s1", 3L),
      (3L, "x x x x x", "en", "s2", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.corpusProfile(d).orderBy("source").collect()
    // s1: 2 docs, 2 langs, 6 tokens, vocab {a,b,c}=3, ttr 500
    assert((out(0).getAs[Long]("n_docs"), out(0).getAs[Long]("n_langs"),
      out(0).getAs[Long]("total_tokens"), out(0).getAs[Long]("distinct_words"),
      out(0).getAs[Long]("ttr_mille")) === ((2L, 2L, 6L, 3L, 500L)))
    // s2: 1 doc, vocab {x}=1 over 5 tokens → ttr 200
    assert((out(1).getAs[Long]("n_docs"), out(1).getAs[Long]("distinct_words"),
      out(1).getAs[Long]("ttr_mille")) === ((1L, 1L, 200L)))
  }

  test("unigramScore: common-word docs score high, rare words drag the min") {
    val d = Seq(
      (1L, "the the the cat"), // 'the' 3/8 of corpus, 'cat' 1/8
      (2L, "the rare zebra unicorn")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramScore(d).orderBy("doc_id").collect()
    // total 8 tokens: the=4 (500000 ppm), cat/rare/zebra/unicorn=1 (125000)
    assert(out(0).getAs[Long]("n_tokens") === 4L)
    assert(out(0).getAs[Long]("avg_freq_ppm") === (3 * 500000L + 125000L) / 4)
    assert(out(0).getAs[Long]("min_freq_ppm") === 125000L)
    assert(out(0).getAs[Long]("max_freq_ppm") === 500000L)
    assert(out(1).getAs[Long]("avg_freq_ppm") === (500000L + 3 * 125000L) / 4)
    assert(out(0).getAs[Long]("avg_freq_ppm") > out(1).getAs[Long]("avg_freq_ppm"))
  }

  test("bigramScore: improbable word ORDER scores below the common order") {
    val d = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "the quick brown fox jumps"),
      (4L, "fox the jumps quick brown"), // same WORDS, scrambled order —
      (5L, "solo")                       // invisible to a unigram model
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramScore(d).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!byId.contains(5L), "a one-word doc has no bigrams")
    assert(byId(1L).getAs[Long]("n_bigrams") === 4L)
    // model: heads the->4, quick->4, brown->3, fox->4, jumps->1; the
    // common-order doc rides cb 3..4 bigrams, the scramble rides cb 1
    assert(byId(1L).getAs[Long]("avg_p_ppm") === 875000L)
    assert(byId(4L).getAs[Long]("avg_p_ppm") === 625000L)
    assert(byId(4L).getAs[Long]("avg_p_ppm") < byId(1L).getAs[Long]("avg_p_ppm"))
    assert(byId(1L).getAs[Long]("avg_p_ppm") === byId(2L).getAs[Long]("avg_p_ppm"))
    // unigramScore, by construction, CANNOT separate docs 1 and 4
    val uni = TextAnalysis.unigramScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("avg_freq_ppm")).toMap
    assert(uni(1L) === uni(4L))
  }

  test("tokenBudgetSample: two-stage equals the naive per-stratum cumsum") {
    import org.apache.spark.sql.expressions.Window
    // ground truth: single global window per lang (fine at spec scale)
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(Dedup.words(col("text"))).cast("long").as("tokens"),
        md5(concat(lit("tb:"), col("doc_id").cast("string"))).as("skey"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("skey").asc, col("doc_id").asc)
    val naive = base
      .withColumn("cum_tokens", sum(col("tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("cum_tokens") - col("tokens") < 2000L)
      .select("lang", "rk", "doc_id", "tokens", "cum_tokens")
      .orderBy("lang", "rk").collect()
    val twoStage = graft.EntryOps
      .tokenBudgetSample(spark, "/root/testdata/sf0.001").collect()
    assert(twoStage.length === naive.length)
    assert(twoStage.map(_.toSeq) === naive.map(_.toSeq))
    // every stratum stops right after crossing the budget: last cum ≥ 2000,
    // previous cum < 2000 (strictly increasing positive tokens)
    twoStage.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val cums = rows.sortBy(_.getLong(1)).map(_.getLong(4))
      assert(cums.init.forall(_ < 2000L), s"$lang selected past the budget")
      assert(cums.last >= 2000L || cums.last == cums.max, s"$lang stopped early")
    }
  }

  test("ANN recall floors: every approximate route vs exact top-k on the shared fixture") {
    // r8 recall audit: the approximate routes trade recall for bounded probe
    // shapes, and nothing upstream of this test would notice an
    // "optimization" that silently gutted recall — the oracles mirror each
    // route's own blocking, so they stay green while the route returns
    // garbage neighbors. These floors pin recall@3 vs exact brute force on
    // the deterministic sf0.001 fixture (queries vec_id % 40 == 0) just
    // below the measured values. Measured (r14, after the distinct-plane
    // coefficient fix re-drew the hyperplane family; docs/BENCH_NOTES.md
    // r14): s02 .128, s03 .077, s04 .154, s05 .513,
    // s06 .410, s07 .436, s08 .513. The s03/s04 deltas vs r8's .128/.256
    // are draw noise on this 39-pair fixture (3 vs 5 of 39 hits), not a
    // quality change: the synthetic-pair collision rates in BENCH_NOTES r14
    // are the statistically meaningful recall measure, and there the new
    // family's banded rate MATCHES the iid 1-(1-r)^T prediction the old
    // shared-plane family silently violated. The knob sensitivity curve
    // (nprobe / codebookSize / subspaces) is documented in docs/PLANS.md
    // §ANN recall.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 40 === 0
    val k = 3
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.topkBruteForce(emb, pred, k))
    assert(exact.nonEmpty)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      (pairs(df) & exact).size.toDouble / exact.size
    val floors = Seq(
      ("s02_ivf", Similarity.topkIvf(emb, pred, k), 0.10),
      ("s03_lsh", Similarity.topkLsh(emb, pred, k), 0.06),
      ("s04_lsh_bands", Similarity.topkLshBands(emb, pred, k), 0.12),
      ("s05_ivf_multiprobe", Similarity.topkIvfMultiProbe(emb, pred, k), 0.45),
      ("s06_ivf_centroids", Similarity.topkIvfCentroids(emb, pred, k), 0.35),
      ("s07_pq", Similarity.topkPq(emb, pred, k), 0.40),
      ("s08_ivfpq", Similarity.topkIvfPq(emb, pred, k), 0.45))
    val failures = floors.flatMap { case (name, df, floor) =>
      val r = recallOf(df)
      if (r < floor) Some(f"$name recall@3 $r%.3f < floor $floor") else None
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  implicit class PairMap(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("e06: baseline and progressive encodings of one image collapse to one cluster") {
    val dir = "/root/testdata/sf0.001"
    // doc 41 re-ships doc 40's pixels (41 % 10 = 1) but 41 % 3 = 2 encodes
    // PROGRESSIVE while 40 encodes baseline — the payload BYTES differ, the
    // decoded rasters must not
    val Seq(p3, p40, p41) = Seq(3L, 40L, 41L).map(graft.fixtures.Image.jpegCorpus)
    assert(!java.util.Arrays.equals(p40, p41), "plant must differ at byte level")
    // encodings really differ: 40 carries SOF0, 41 carries SOF2
    def hasMarker(b: Array[Byte], m: Int): Boolean =
      (0 until b.length - 1).exists(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == m)
    assert(hasMarker(p40, 0xc0) && !hasMarker(p40, 0xc2))
    assert(hasMarker(p41, 0xc2) && !hasMarker(p41, 0xc0))
    val h40 = graft.functions.JpegDHash.hash(p40)
    val h41 = graft.functions.JpegDHash.hash(p41)
    assert(h40 != null && h40 == h41,
      "same pixels under different entropy codings must hash identically")
    // doc 3 (3 % 17 = 3) is undecodable and must be quarantined
    assert(graft.functions.JpegDHash.hash(p3) == null)
    val out = EntryOps.jpegCorpus(spark, dir)
      .select("doc_id", "cluster_size").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!out.contains(41L), "the re-shipped copy must not survive")
    assert(!out.contains(3L), "a refused payload must never be a survivor")
    out.get(40L).foreach(sz =>
      assert(sz >= 2, "40's cluster must contain at least its planted dup"))
  }

  test("rebuild carry-over: in-flight appends to the old root survive " +
      "the flip, re-coded under the new quantizer, idempotently") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val roots = tempDir("graft_carry")
      .resolve("container").toString
    assert(Similarity.commitPqRoot(spark, emb, roots) === Some(1L))
    val v1 = Similarity.resolvePqIndexPath(spark, roots)
    // LATE arrivals: appended to v1's delta AFTER the rebuild snapshot
    // was taken (the in-flight window the r11 advice flagged) — their
    // embeddings land in the live corpus table as usual, but the
    // rebuild's training snapshot missed them
    val late = emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    Similarity.appendToPqIndex(late,
        spark.read.parquet(s"$v1/codebooks"))
      .withColumn("batch_id", lit(7L))
      .write.partitionBy("batch_id").parquet(s"$v1/codes_appended")
    // snapshot-built v2 (misses `late` by construction)
    assert(Similarity.commitPqRoot(spark, emb, roots) === Some(2L))
    val v2 = Similarity.resolvePqIndexPath(spark, roots)
    assert(Similarity.readPqCodes(spark, v2)
      .filter(col("vec_id") >= 500000).count() === 0L,
      "fixture: the rebuild must have missed the in-flight appends")
    // carry-over from the LIVE corpus view closes the window
    val corpusAll = emb.unionByName(late)
    Similarity.carryOverAppended(spark, corpusAll, v1, v2)
    val served = Similarity.readPqCodes(spark, v2)
    assert(served.filter(col("vec_id") >= 500000).count() === late.count())
    // original batch id preserved — the replay contract's key
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$v2/codes_appended/batch_id=7")))
    // codes are the NEW quantizer's assignment, bit-for-bit
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().toSeq
    assert(rows(served.filter(col("vec_id") >= 500000))
      === rows(Similarity.appendToPqIndex(late,
        spark.read.parquet(s"$v2/codebooks"))))
    // a second carry pass is a no-op (anti-join against what v2 SERVES)
    Similarity.carryOverAppended(spark, corpusAll, v1, v2)
    assert(Similarity.readPqCodes(spark, v2)
      .filter(col("vec_id") >= 500000).count() === late.count())
  }

  test("rebuild carry-over on an IVF-PQ root: missed appends re-coded " +
      "with coarse re-assignment under the new quantizer") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val roots = tempDir("graft_carry_ivf")
      .resolve("container").toString
    assert(Similarity.commitIvfPqRoot(spark, emb, roots) === Some(1L))
    val v1 = Similarity.resolvePqIndexPath(spark, roots)
    val late = emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(late,
        spark.read.parquet(s"$v1/centroids"),
        spark.read.parquet(s"$v1/codebooks"))
      .withColumn("batch_id", lit(3L))
      .write.partitionBy("batch_id").parquet(s"$v1/codes_appended")
    assert(Similarity.commitIvfPqRoot(spark, emb, roots) === Some(2L))
    val v2 = Similarity.resolvePqIndexPath(spark, roots)
    Similarity.carryOverAppended(spark, emb.unionByName(late), v1, v2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().toSeq
    // bucket column rides the carried rows (the IVF detection branch),
    // and the assignment is the NEW quantizer's, bit-for-bit
    assert(rows(Similarity.readPqCodes(spark, v2)
        .filter(col("vec_id") >= 500000)
        .select(col("vec_id"), col("bucket"), col("codes")))
      === rows(Similarity.appendToIvfPqIndex(late,
        spark.read.parquet(s"$v2/centroids"),
        spark.read.parquet(s"$v2/codebooks"))))
  }

  test("compaction claim race: concurrent maintainers with a zero stale " +
      "timeout commit exactly one clean generation (token verify)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = tempDir("graft_pq_race")
      .resolve("index").toString
    val (cb, codes) = Similarity.buildPqIndex(
      emb.filter(col("vec_id") % 2 === 0))
    cb.write.parquet(s"$idx/codebooks")
    codes.write.parquet(s"$idx/codes")
    Similarity.appendToPqIndex(emb.filter(col("vec_id") % 2 === 1), cb)
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$idx/codes_appended")
    // lockTimeoutMs = 0: every contender classifies any held lock stale
    // and steals — the worst case the holder-token protocol must survive.
    // Pre-token, this interleaving could commit MIXED parquet; now the
    // loser's commit-time ownership verify aborts it.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // guaranteed invariants under arbitrary interleaving (the schedule
    // itself is nondeterministic — a steal can land before or after the
    // first holder's commit, so 1 or 2 generations may exist; and under
    // a ZERO timeout two LIVE contenders can mutually steal and BOTH
    // abort a round — the r13 late ownership re-checks choose safety
    // over per-round progress, so progress is EVENTUAL, as at the next
    // maintenance fire):
    //  - a contention cadence eventually commits;
    //  - every row of the corpus is served exactly once (no loss from a
    //    mid-commit steal, no mixed/duplicated files in any generation);
    //  - no token-suffixed staging dirs leak.
    var round = 0
    var lastMax = 0L
    while (lastMax < 1L && round < 10) {
      round += 1
      val attempts = Await.result(
        Future.sequence(Seq(
          Future(Similarity.compactPqIndex(spark, idx, lockTimeoutMs = 0L)),
          Future(Similarity.compactPqIndex(spark, idx, lockTimeoutMs = 0L)))),
        5.minutes)
      lastMax = attempts.max
    }
    assert(lastMax >= 1L,
      "a maintenance cadence must eventually commit (10 rounds, all mutual aborts)")
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      .map[String](_.getFileName.toString).toArray.map(_.toString).toSeq
    assert(!names.exists(_.contains("__")),
      s"staging dirs must be cleaned up: $names")
    val served = Similarity.readPqCodes(spark, idx)
    assert(served.count() === emb.count(), "no duplicated rows")
    assert(served.select("vec_id").distinct().count() === emb.count(),
      "no lost rows")
    // the chain continues normally afterwards
    val g = Similarity.compactPqIndex(spark, idx)
    assert(g === lastMax + 1,
      s"chain continues from the committed generation ($lastMax -> $g)")
  }

  test("s15/s16 overlay path: a pre-committed versioned container serves " +
      "rows identical to the scratch-committed path") {
    // the registry entries take the resolver path when $dir/pq_roots /
    // $dir/ivfpq_roots carry a committed version (the Bench
    // overlay shape) and self-commit a scratch container otherwise (the
    // Verify path the oracle hash-checks); both must be bit-identical
    val sfDir = "/root/testdata/sf0.001"
    val ovl = tempDir("graft_s15_ovl")
    java.nio.file.Files.createSymbolicLink(
      ovl.resolve("embeddings.parquet"),
      java.nio.file.Paths.get(sfDir, "embeddings.parquet"))
    val e = Tables.embeddings(spark, ovl.toString)
    assert(Similarity.commitPqRoot(spark, e,
      ovl.resolve("pq_roots").toString) === Some(1L))
    assert(Similarity.commitIvfPqRoot(spark, e,
      ovl.resolve("ivfpq_roots").toString) === Some(1L))
    def rows(name: String, dir: String) =
      SparkEntry.run(spark, name, dir)(_.collect().toSeq)
    assert(rows("s15_topk_pq_root", ovl.toString)
      === rows("s15_topk_pq_root", sfDir))
    assert(rows("s16_topk_ivfpq_root", ovl.toString)
      === rows("s16_topk_ivfpq_root", sfDir))
  }

  test("entries that build scratch roots leave no graft_* directory " +
      "behind, whether the sink returns or throws") {
    val sfDir = "/root/testdata/sf0.001"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs(): Set[String] = tmp.list().filter(_.startsWith("graft_")).toSet
    val before = graftDirs()
    Seq("s15_topk_pq_root", "s16_topk_ivfpq_root", "s18_topk_sq8_rooted",
      "s19_sq8_saturation", "d37_video_dedup_incremental",
      "e10_video_admission", "d24_learning_dedup").foreach { name =>
      assert(SparkEntry.run(spark, name, sfDir)(_.collect()).nonEmpty, name)
      val e = intercept[IllegalStateException](SparkEntry.run(spark, name,
        sfDir)(_ => throw new IllegalStateException(s"$name sink failed")))
      assert(e.getMessage === s"$name sink failed")
    }
    assert(graftDirs() -- before === Set.empty[String])
  }

  test("Scratch.dir outside an execution scope throws and names " +
      "SparkEntry.run") {
    val e = intercept[IllegalStateException](Scratch.dir("graft_orphan"))
    assert(e.getMessage.contains("SparkEntry.run"))
    val scope = new Scratch.Scope
    val d = scope.dir("graft_scope")
    scope.close()
    scope.close()
    assert(!java.nio.file.Files.exists(d))
    intercept[IllegalStateException](scope.dir("graft_scope"))
  }

  test("versioned-root commit race: concurrent committers with a zero " +
      "stale timeout publish whole versions only") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val roots = tempDir("graft_root_race")
      .resolve("container").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // under arbitrary steal interleavings 1 or 2 versions may commit per
    // round, a loser returns None, and under the ZERO timeout two LIVE
    // contenders can mutually steal and BOTH abort a round (the r13
    // late ownership re-checks — safety over per-round progress); the
    // invariants are: a contention cadence eventually commits, every
    // committed version is WHOLE (codebooks + codes + marker), the
    // resolver sees the highest one, and no staging dirs leak
    var round = 0
    val committedVs = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (committedVs.isEmpty && round < 10) {
      round += 1
      val attempts = Await.result(
        Future.sequence(Seq(
          Future(Similarity.commitPqRoot(spark, emb, roots,
            lockTimeoutMs = 0L)),
          Future(Similarity.commitPqRoot(spark, emb, roots,
            lockTimeoutMs = 0L)))),
        5.minutes)
      committedVs ++= attempts.flatten
    }
    assert(committedVs.nonEmpty,
      "a commit cadence must eventually publish (10 rounds, all mutual aborts)")
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(roots))
      .map[String](_.getFileName.toString).toArray.map(_.toString).toSeq
    assert(!names.exists(_.contains("__")),
      s"staging dirs must be cleaned up: $names")
    val resolved = Similarity.resolvePqIndexPath(spark, roots)
    val top = committedVs.max
    assert(resolved.endsWith(f"v-$top%08d"))
    for (n <- names if n.matches("v-\\d{8}")) {
      val vdir = s"$roots/$n"
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$vdir/_GRAFT_PQ_ROOT")),
        s"$n must be marker-committed (torn versions were stolen+GC'd)")
      assert(spark.read.parquet(s"$vdir/codes").count() === emb.count(),
        s"$n must be a WHOLE version")
    }
    // queries through the resolved root reproduce a cold build exactly
    val (coldCb, coldCodes) = Similarity.buildPqIndex(emb)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("vec_id")).collect().toSeq
    assert(rows(Similarity.readPqCodes(spark, resolved)) === rows(coldCodes))
  }

  test("learned-delta compaction race: concurrent maintainers with a zero " +
      "stale timeout serve every learned row exactly once") {
    import spark.implicits._
    val root = tempDir("graft_learn_race")
      .resolve("index").toString
    graft.ops.Dedup.buildGramIndex(
      Seq((100L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"), n = 3).write.parquet(s"$root/base")
    // two learned batch partitions, disjoint grams
    graft.ops.Dedup.buildGramIndex(
        Seq((1L, "m1 m2 m3 m4 m5 m6")).toDF("doc_id", "text"), n = 3)
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$root/learned")
    graft.ops.Dedup.buildGramIndex(
        Seq((2L, "p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text"), n = 3)
      .withColumn("batch_id", lit(1L))
      .write.partitionBy("batch_id").mode("append")
      .parquet(s"$root/learned")
    val full = graft.ops.Dedup.readWithLearned(spark, root)
      .orderBy("gram").collect().toSeq
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // Under a ZERO stale timeout two LIVE contenders can steal each
    // other mid-publish and BOTH abort a round (the r13 late ownership
    // re-checks abort a holder whose claim was taken between its rmTree
    // and marker — safety over progress; a sane timeout only steals
    // from crashed holders, so production never mutually aborts).
    // Progress is EVENTUAL, not per-round: retry the contention round
    // until a generation commits, exactly as the next maintenance fire
    // would.
    var round = 0
    var committed = 0L
    while (committed < 1L && round < 10) {
      round += 1
      val attempts = Await.result(
        Future.sequence(Seq(
          Future(graft.ops.Dedup.compactLearnedDelta(spark, root,
            lockTimeoutMs = 0L)),
          Future(graft.ops.Dedup.compactLearnedDelta(spark, root,
            lockTimeoutMs = 0L)))),
        5.minutes)
      committed = attempts.max
    }
    assert(committed >= 1L,
      s"a maintenance cadence must eventually commit (10 rounds, all mutual aborts)")
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .map[String](_.getFileName.toString).toArray.map(_.toString).toSeq
    assert(!names.exists(_.contains("__")),
      s"staging dirs must be cleaned up: $names")
    assert(graft.ops.Dedup.readWithLearned(spark, root)
      .orderBy("gram").collect().toSeq === full,
      "no lost or duplicated learned rows across the race")
  }

  test("claim-token primitives: ownership verify, steal leaves the " +
      "zombie unable to release, heartbeat refreshes the lock mtime") {
    val dir = tempDir("graft_claim").toString
    val fs = graft.ops.IndexFs.fs(spark, dir)
    val lock = s"$dir/x.lock"
    assert(graft.ops.IndexFs.tryClaim(fs, lock, "tokA"))
    assert(graft.ops.IndexFs.ownsClaim(fs, lock, "tokA"))
    assert(!graft.ops.IndexFs.tryClaim(fs, lock, "tokB"), "held lock")
    // simulated steal (what a concurrent maintainer does to a stale
    // lock): the zombie's ownership verify now fails, and its
    // release-if-owner must NOT delete the stealer's lock
    graft.ops.IndexFs.release(fs, lock)
    assert(graft.ops.IndexFs.tryClaim(fs, lock, "tokB"))
    assert(!graft.ops.IndexFs.ownsClaim(fs, lock, "tokA"))
    graft.ops.IndexFs.releaseIfOwner(fs, lock, "tokA")
    assert(graft.ops.IndexFs.claimHolder(fs, lock) === Some("tokB"),
      "zombie release must be a no-op on a stolen lock")
    // heartbeat: the holder's daemon touch advances mtime, so a LIVE
    // holder is never classified stale however long its build runs
    val m0 = graft.ops.IndexFs.mtime(fs, lock).get
    // sleep > 1 s so the assertion survives second-granularity mtimes
    graft.ops.IndexFs.withHeartbeat(fs, lock, "tokB", intervalMs = 100L) {
      Thread.sleep(1200L)
    }
    assert(graft.ops.IndexFs.mtime(fs, lock).get > m0,
      "heartbeat must refresh the lock mtime")
    // atomic marker publish + tolerant parse round-trip
    graft.ops.IndexFs.commitSmallString(fs, s"$dir/_M", "42\n")
    assert(graft.ops.IndexFs.readMarkerLong(fs, s"$dir/_M") === Some(42L))
    graft.ops.IndexFs.writeSmallString(fs, s"$dir/_M", "torn garb")
    assert(graft.ops.IndexFs.readMarkerLong(fs, s"$dir/_M") === None)
  }

  test("CLI maintenance verbs dispatch to the claim-locked lifecycle ops") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val base = tempDir("graft_cli_maint")
    // rebuild-if-drifted on an empty container cold-starts v1, and a
    // second run reports the no-drift no-op
    val roots = base.resolve("roots").toString
    emb.write.parquet(base.resolve("emb.parquet").toString)
    val embPath = base.resolve("emb.parquet").toString
    assert(graft.cli.Main.runMaintenance(spark,
      List("rebuild-if-drifted", "pq", embPath, roots))
      .exists(_.contains("committed v1")))
    assert(graft.cli.Main.runMaintenance(spark,
      List("rebuild-if-drifted", "pq", embPath, roots))
      .exists(_.contains("no-op")))
    // compact-index accepts the CONTAINER path and resolves the current
    // version (a plain index root passes through unchanged)
    val v1 = Similarity.resolvePqIndexPath(spark, roots)
    Similarity.appendToPqIndex(emb.limit(10),
        spark.read.parquet(s"$v1/codebooks"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$v1/codes_appended")
    assert(graft.cli.Main.runMaintenance(spark,
      List("compact-index", roots))
      .exists(s => s.contains("generation 1") && s.contains(v1)))
    // drift-tripped rebuild through the CLI: drifted arrivals appended
    // under v1's frozen codebooks + present in the emb table → the verb
    // rebuilds into v2 and runs the post-flip carry pass (idempotent
    // no-op here — v2's base covers everything the fresh read holds)
    val drifted = emb.filter(col("vec_id") < 100)
      .select((col("vec_id") + 900000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 10.0 + 5.0 AS FLOAT))")
          .as("embedding"))
    Similarity.appendToPqIndex(drifted,
        spark.read.parquet(s"$v1/codebooks"))
      .withColumn("batch_id", lit(9L))
      .write.partitionBy("batch_id").mode("append")
      .parquet(s"$v1/codes_appended")
    emb.unionByName(drifted).write.mode("overwrite")
      .parquet(base.resolve("emb2.parquet").toString)
    assert(graft.cli.Main.runMaintenance(spark,
      List("rebuild-if-drifted", "pq",
        base.resolve("emb2.parquet").toString, roots))
      .exists(_.contains("committed v2")))
    assert(Similarity.resolvePqIndexPath(spark, roots)
      .endsWith("v-00000002"))
    // version GC: keep=2 retains v1 (grace) + v2 after the rebuild's
    // auto-GC; forcing keep=1 removes the grace predecessor, and an
    // unmarked (torn) dir is never touched
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$roots/v-00000001")),
      "auto-GC keeps one grace predecessor")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$roots/v-00000007")) // torn, unmarked
    assert(graft.cli.Main.runMaintenance(spark,
      List("gc-roots", roots, "1")).exists(_.contains("removed 1")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$roots/v-00000001")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$roots/v-00000007")),
      "unmarked dirs belong to the claim protocol, GC must not touch them")
    assert(Similarity.resolvePqIndexPath(spark, roots)
      .endsWith("v-00000002"), "resolver unaffected by GC")
    // unknown verbs fall through to usage (None)
    assert(graft.cli.Main.runMaintenance(spark, List("bogus")).isEmpty)
    // malformed NUMERIC args fall through to usage instead of an
    // uncaught NumberFormatException (r12 advice)
    assert(graft.cli.Main.runMaintenance(spark,
      List("gc-roots", roots, "two")).isEmpty)
    assert(graft.cli.Main.runMaintenance(spark,
      List("rebuild-if-drifted", "pq", embPath, roots, "fast")).isEmpty)
  }

  test("CLI maintain: one idempotent pass discovers and services every " +
      "index-root shape under a warehouse") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = tempDir("graft_maintain")
    val wh = base.resolve("warehouse").toString
    // 1. versioned container with an appended delta on its current version
    val container = s"$wh/ann_container"
    assert(Similarity.commitPqRoot(spark, emb, container) === Some(1L))
    val v1 = Similarity.resolvePqIndexPath(spark, container)
    Similarity.appendToPqIndex(emb.limit(10),
        spark.read.parquet(s"$v1/codebooks"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$v1/codes_appended")
    // 2. self-learning text root with a live learned delta
    val learnRoot = s"$wh/text_dedup_idx"
    graft.ops.Dedup.buildCorpusIndex(docs.filter(col("doc_id") % 10 =!= 0))
      .write.parquet(s"$learnRoot/base")
    graft.ops.Dedup.buildCorpusIndex(docs.filter(col("doc_id") % 10 === 0))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$learnRoot/learned")
    // 3. sem root: members/ subtree carries the learned delta
    val semRoot = s"$wh/sem_idx"
    val (ct, members) = Similarity.buildSemIndex(
      emb.filter(col("vec_id") % 10 =!= 0))
    ct.write.parquet(s"$semRoot/centroids")
    members.write.parquet(s"$semRoot/members/base")
    members.limit(5).withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$semRoot/members/learned")
    // 4. plain (un-versioned) PQ index root with an appended delta
    val plain = s"$wh/plain_idx"
    val (cb, codes) = Similarity.buildPqIndex(emb)
    cb.write.parquet(s"$plain/codebooks")
    codes.write.parquet(s"$plain/codes")
    Similarity.appendToPqIndex(emb.limit(5), cb)
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$plain/codes_appended")
    val summary = graft.cli.Main.runMaintenance(spark, List("maintain", wh))
    assert(summary.exists(_.contains("4 roots")), s"got $summary")
    assert(summary.exists(s => s.contains("ann_container: container") &&
      s.contains("text_dedup_idx: learned root") &&
      s.contains("sem_idx/members: learned root") &&
      s.contains("plain_idx: index root")), s"got $summary")
    // the pass actually serviced them: compacted generations exist and
    // serve the same rows
    assert(graft.ops.IndexFs.exists(graft.ops.IndexFs.fs(spark, wh),
      s"$v1/codes_g1"))
    assert(graft.ops.IndexFs.exists(graft.ops.IndexFs.fs(spark, wh),
      s"$learnRoot/learned_g1"))
    assert(Similarity.readPqCodes(spark, v1).count()
      === codes.count() + 10L)
    // idempotent second pass: same discovery, claim-locked no-ops inside
    val again = graft.cli.Main.runMaintenance(spark, List("maintain", wh))
    assert(again.exists(_.contains("4 roots")), s"got $again")
    assert(Similarity.readPqCodes(spark, v1).count()
      === codes.count() + 10L)
    // empty warehouse: honest no-op summary
    val none = graft.cli.Main.runMaintenance(spark,
      List("maintain", base.resolve("empty").toString))
    assert(none.exists(_.contains("no index roots")), s"got $none")
  }

  test("conditional-create capability probe: local atomic by scheme, an " +
      "object store follows its advertised path capability, probe failure " +
      "reads as advisory") {
    val dir = tempDir("graft_cap").toString
    val local = graft.ops.IndexFs.fs(spark, dir)
    assert(graft.ops.IndexFs.atomicClaimSupported(local, dir),
      "local FS create-if-absent is O_EXCL-atomic")
    class FakeStore(caps: Set[String])
        extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "mocks3"
      override def hasPathCapability(p: org.apache.hadoop.fs.Path,
          c: String): Boolean = caps.contains(c)
    }
    assert(!graft.ops.IndexFs.atomicClaimSupported(
      new FakeStore(Set.empty), dir),
      "no conditional-create capability -> the claim stays advisory")
    assert(graft.ops.IndexFs.atomicClaimSupported(
      new FakeStore(graft.ops.IndexFs.ConditionalCreateCapabilities.toSet), dir),
      "advertised conditional create upgrades the claim to atomic")
    val throwing = new FakeStore(Set.empty) {
      override def hasPathCapability(p: org.apache.hadoop.fs.Path,
          c: String): Boolean =
        throw new UnsupportedOperationException("pre-PathCapabilities store")
    }
    assert(!graft.ops.IndexFs.atomicClaimSupported(throwing, dir),
      "a probe failure must degrade to advisory, never crash maintenance")
  }

  test("torn generation marker: unparseable content reads as uncommitted, " +
      "never as a reader crash") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = tempDir("graft_pq_torn")
      .resolve("index").toString
    val (cb, codes) = Similarity.buildPqIndex(
      emb.filter(col("vec_id") % 2 === 0))
    cb.write.parquet(s"$idx/codebooks")
    codes.write.parquet(s"$idx/codes")
    val before = Similarity.readPqCodes(spark, idx).count()
    // a generation whose marker is EMPTY or GARBLED (the torn
    // create+write+close window on stores without atomic create) must
    // stay invisible — the pre-r12 read path threw NumberFormatException
    // on the query hot path
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$idx/codes_g1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/codes_g1/_GRAFT_PQ_GEN"), "")
    assert(Similarity.readPqCodes(spark, idx).count() === before)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/codes_g1/_GRAFT_PQ_GEN"), "garb le")
    assert(Similarity.readPqCodes(spark, idx).count() === before)
  }
  test("banded embed dedup: 4x4 tables catch the planted cos-0.926 pair a " +
      "single 16-plane table misses; refusals invalid; geometry follows " +
      "the index") {
    import org.apache.spark.sql.functions._
    val vecA = (0 until 64).map(j =>
      if (j % 3 == 0) 1.0f else if (j % 3 == 1) -1.0f else 0.5f)
    val vecB = vecA.zipWithIndex.map { case (v, j) =>
      if (j % 5 == 1) v + 0.8f else v }
    def lits(id: Long, v: Seq[Float]) = spark.sql(
      s"SELECT CAST($id AS BIGINT) AS vec_id, " +
        v.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")") +
        " AS embedding")
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 10 =!= 0)
      .unionByName(lits(-50L, vecA))
    val arrivals = lits(-100L, vecB)
      .unionByName(spark.sql(
        """SELECT CAST(-1 AS BIGINT) AS vec_id,
                  CAST(NULL AS ARRAY<FLOAT>) AS embedding
           UNION ALL SELECT CAST(-2 AS BIGINT),
                  CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)"""))
    // a SINGLE table at the same 16 total bits separates the pair
    val single = graft.ops.Dedup.embedDedupAgainstIndex(arrivals,
      graft.ops.Dedup.buildEmbedIndex(corpus, planes = 16),
      minCosine = 0.9, planes = 16).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("verdict")).toMap
    assert(single(-100L) === "new",
      "the planted pair must hash apart in one 16-plane table")
    // ...while table 3 of the 4x4 banded index catches it
    val banded = graft.ops.Dedup.embedDedupAgainstIndexBanded(arrivals,
      graft.ops.Dedup.buildEmbedIndexBanded(corpus, planes = 4, tables = 4),
      minCosine = 0.9).collect()
    val byId = banded.map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(byId(-100L).getAs[String]("verdict") === "near")
    assert(byId(-100L).getAs[Long]("match_id") === -50L)
    assert(math.abs(byId(-100L).getAs[Double]("cosine") - 0.92585) < 5e-4)
    assert(byId(-1L).getAs[String]("verdict") === "invalid" &&
      byId(-2L).getAs[String]("verdict") === "invalid",
      "refusals surface invalid through the banded route too")
    // geometry follows the index: a p=5 build re-bands the query side
    // without any caller parameter (the witness pair collides in
    // table 2 at p=5)
    val banded5 = graft.ops.Dedup.embedDedupAgainstIndexBanded(arrivals,
      graft.ops.Dedup.buildEmbedIndexBanded(corpus, planes = 5, tables = 4),
      minCosine = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("verdict")).toMap
    assert(banded5(-100L) === "near")
  }
}
