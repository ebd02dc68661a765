package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.Dedup
import graft.streaming.LogStream

/** The gate's verdicts as plain Scala: exact when the content hash is known,
  * near when a known 64-bit SimHash lies within Hamming distance 3, new
  * otherwise. Knowledge is the base corpus plus every earlier batch's new
  * documents.
  */
final class GateModel {
  private val hashes = mutable.HashSet[String]()
  private val bands = mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()

  private def md5(bytes: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(bytes)

  /** SimHash over the word multiset: bit b is the sign of the summed bit b of
    * each word's MD5.
    */
  def simhash(text: String): Long = {
    val sums = new Array[Int](64)
    text.trim.split("\\s+").foreach { w =>
      val d = md5(w.getBytes(UTF_8))
      var b = 0
      while (b < 64) {
        sums(b) += 2 * ((d(b / 8) >> (7 - b % 8)) & 1) - 1
        b += 1
      }
    }
    (0 until 64).foldLeft(0L)((sh, b) => if (sums(b) >= 0) sh | (1L << (63 - b)) else sh)
  }

  /** Four 16-bit bands: two fingerprints within distance 3 share one. */
  private def bandKeys(sh: Long): Seq[Long] =
    (0 until 4).map(k => (k.toLong << 16) | ((sh >>> (48 - 16 * k)) & 0xFFFFL))

  private def hash(text: String): String =
    md5(text.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  def learn(text: String): Unit = {
    hashes += hash(text)
    val sh = simhash(text)
    bandKeys(sh).foreach(k => bands.getOrElseUpdate(k, mutable.ArrayBuffer()) += sh)
  }

  def verdict(text: String): String =
    if (hashes.contains(hash(text))) "exact"
    else {
      val sh = simhash(text)
      val near = bandKeys(sh).exists(k =>
        bands.get(k).exists(_.exists(x => java.lang.Long.bitCount(x ^ sh) <= 3)))
      if (near) "near" else "new"
    }
}

/** learn_gate: set-up writes a base corpus index; each op lands one arrival
  * file and runs `LogStream.dedupLearningArrivals` to completion. Arrivals mix
  * exact and near copies of the base and of earlier batches with novel text.
  */
final class LearnGate(c: Ctx) extends Workload(c) {
  private val baseDocs = if (ctx.smoke) 2000 else 20000
  private val batchDocs = if (ctx.smoke) 200 else 1000
  private val vocab = 5000

  private val indexRoot = ctx.root.resolve("index").toString
  private val outPath = ctx.root.resolve("verdicts").toString
  private lazy val inDir = ctx.dir("in/arrivals")
  private val ck = ctx.root.resolve("ck/gate").toString
  private var inBytes = 0L

  private var base = IndexedSeq.empty[String]
  private val learned = mutable.ArrayBuffer[String]()
  private val model = new GateModel
  private var modelReady = false

  private final case class Batch(file: Path, want: Map[Long, String],
      var id: Long = -1L)
  private val batches = mutable.Map[Int, Batch]()
  private var opCount = 0

  def setup(): Unit = {
    val r = ctx.rng(1)
    base = IndexedSeq.fill(baseDocs)(Gen.doc(r, vocab))
    inBytes += base.map(_.getBytes(UTF_8).length.toLong).sum
    val session = spark
    import session.implicits._
    val corpus = base.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
    Dedup.buildCorpusIndex(corpus).write.parquet(s"$indexRoot/base")
    Files.createDirectories(inDir)
  }

  /** Batch k: 20 % exact copies, 10 % reordered copies, 10 % one-word edits,
    * 60 % novel documents. Copies come from the base, or from the novel
    * documents of earlier batches once there are some. The model judges the
    * batch here, against knowledge from earlier batches only, and learns its
    * new documents.
    */
  def prepare(i: Int): Unit = {
    if (!modelReady) {
      base.foreach(model.learn)
      modelReady = true
    }
    val k = opCount
    opCount += 1
    val r = ctx.rng(1000 + k)
    def source(): String =
      if (learned.nonEmpty && r.nextInt(10) < 3) learned(r.nextInt(learned.size))
      else base(r.nextInt(base.size))
    val docs = (0 until batchDocs).map { j =>
      val id = 10000000L + k.toLong * batchDocs + j
      val x = r.nextInt(100)
      val text =
        if (x < 20) source()
        else if (x < 30) Gen.reorder(r, source())
        else if (x < 40) Gen.substitute(r, source(), vocab)
        else Gen.doc(r, vocab)
      (id, text)
    }
    val p = inDir.resolve(s"b$k.csv")
    val bytes = docs.map { case (id, t) => s"$id,$t" }.mkString("", "\n", "\n")
      .getBytes(UTF_8)
    Files.write(p, bytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + k * 1000L))
    inBytes += bytes.length
    val want = docs.map { case (id, t) => id -> model.verdict(t) }
    docs.zip(want).foreach { case ((_, t), (_, v)) =>
      if (v == "new") { model.learn(t); learned += t }
    }
    batches(i) = Batch(p, want.toMap)
  }

  private def arrivals: DataFrame =
    spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").csv(inDir.toString)

  def op(i: Int): Unit = {
    val q = ctx.runStream("streaming.gate")(
      LogStream.dedupLearningArrivals(arrivals, indexRoot, outPath, ck))
    batches(i).id = q.lastProgress.batchId
  }

  /** The gate's three steps on op i's batch: read knowledge below it, judge
    * it, and learn from it. Learning replays the batch id, which the gate
    * treats as a redelivery: its learned rows are rewritten unchanged.
    */
  override def probe(i: Int): Unit = {
    val b = batches(i)
    val batch = spark.read.schema("doc_id LONG, text STRING").csv(b.file.toString)
    val index = tracer.span("ops.read_index") {
      val idx = Dedup.readCorpusIndex(spark, indexRoot, beforeBatch = b.id)
      ctx.sample("ops.index_rows", idx.count().toDouble)
      idx
    }
    val verdicts = tracer.span("ops.judge")(
      Dedup.dedupAgainstIndex(batch, index).select("verdict").collect())
    Seq("new", "exact", "near").foreach(v =>
      ctx.sample(s"ops.verdict.$v", verdicts.count(_.getString(0) == v).toDouble))
    tracer.span("ops.learn")(LogStream.dedupLearningTextBatch(batch, indexRoot, b.id))
    ctx.sample("ops.gate_batch.jobs", tracer.last.count(Counters.Jobs).toDouble)
  }

  /** Every verdict equals the model's. */
  def check(i: Int): Boolean = {
    val b = batches.remove(i).get
    val got = spark.read.parquet(s"$outPath/batch_id=${b.id}")
      .select(col("doc_id"), col("verdict")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val wrong = b.want.count { case (id, v) => !got.get(id).contains(v) }
    if (wrong > 0 || got.size != b.want.size)
      System.err.println(s"[perfbench] learn_gate batch ${b.id}: $wrong of " +
        s"${b.want.size} verdicts differ from the model (${got.size} returned)")
    wrong == 0 && got.size == b.want.size
  }

  def items(i: Int): Long = batchDocs.toLong

  def compact(): Unit =
    tracer.span("ops.compact_learned")(Dedup.compactLearnedDelta(spark, indexRoot))

  override def prepareClosing(j: Int): Unit = prepare(-1 - j)

  def closingOp(j: Int): Unit = op(-1 - j)

  def checkClosing(j: Int): Boolean = check(-1 - j)

  def nominalOpS: Double = 2.0
  def nominalClosingOpS: Double = 2.0

  def store: Path = Path.of(indexRoot)
  def storedBytes: Long = Fs.dataBytes(store)
  def inputBytes: Long = inBytes

  override def gauges(): Map[String, Double] = {
    val learnedFiles = Fs.dataFiles(Path.of(indexRoot)).filterNot(
      _.toString.contains(s"$indexRoot/base/"))
    Map(
      "ops.learned_leaves" -> learnedFiles.map(_.getParent).distinct.size.toDouble,
      "ops.learned_bytes" -> learnedFiles.map(Files.size).sum.toDouble)
  }
}
