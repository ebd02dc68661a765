package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table-level statistics and schemas from parquet FOOTERS alone — no data
  * scan, no Spark job. Sizing a grown index geometry (planes = smallest p with
  * 2^p·48 ≥ N, K = ⌈N/48⌉ centroids) needs ONE integer: the corpus row
  * count. Deriving it with `df.count()` costs a full corpus pass before
  * the real query even starts — at 100 TB that is an extra scan per run
  * to learn a number every parquet footer (and, at deployment, every
  * catalog) already records exactly (r14 verdict item 3). Footer reads
  * are O(files), driver-side, and byte-exact: parquet row counts are
  * physical metadata, not estimates.
  *
  * Returns None on any failure (non-parquet layout, unreadable footer,
  * empty dir) so callers fall back to the scan — a sizing statistic must
  * never turn a readable corpus into an error.
  */
object ParquetMeta {

  /** [[rowCount]] with a LOUD scan fallback — the one entry point geometry
    * sizing should use (r15 advice item 2): every sizing call site derives
    * N from the FULL table (footer count ≡ `count(*)`) and then applies
    * its cohort-share integer rule (`* share / 10`, `+ 1` for planted
    * witnesses) OUTSIDE this call, so the fallback path computes the
    * identical arithmetic the DuckDB oracle mirrors — the pre-r16 form let
    * each fallback count a filtered cohort directly, which near a
    * planes/K threshold could disagree with the oracle's
    * `floor(share · count(*))` by one and silently diverge the geometry.
    * `scan` must therefore be the UNFILTERED table count. The fallback is
    * logged so a parity mismatch is traceable to it.
    */
  def rowCountOrScan(spark: SparkSession, path: String, scan: => Long): Long =
    rowCount(spark, path).getOrElse {
      System.err.println(s"[graft] ParquetMeta: footer row count unavailable " +
        s"for $path — falling back to a full count(*) scan (same integer " +
        "rule as the oracle; geometry parity preserved)")
      scan
    }

  /** Exact total row count of the parquet file/directory at `path`. */
  def rowCount(spark: SparkSession, path: String): Option[Long] = try {
    val conf = spark.sessionState.newHadoopConf()
    val files = listParquet(conf, new Path(path)).toSeq
    if (files.isEmpty) None
    else Some(files.map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
      try r.getRecordCount finally r.close()
    }.sum)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The data schema of the parquet store at `path`, from the footer of ONE
    * leaf, read on the driver with no Spark job. The rule is Spark's own
    * (`ParquetFileFormat.readSchemaFromFooter`): the Spark schema the writer
    * stored in the footer, else the converted parquet schema. A store the
    * engine writes has one schema in every leaf, so one footer is the
    * schema an inferring `spark.read.parquet` would derive with a job,
    * made nullable as Spark's file sources make it.
    * Partition columns (`k=v` directories) are not data columns: a read
    * pinned to this schema still discovers them from the paths.
    *
    * None when there is no leaf or its footer cannot be read, so the caller
    * falls back to the inferring read and behaves as it always did.
    */
  def dataSchema(spark: SparkSession, path: String): Option[StructType] = try {
    val conf = spark.sessionState.newHadoopConf()
    listParquet(conf, new Path(path)).nextOption().map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
      val footer = try r.getFooter finally r.close()
      GraftBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(s.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Data files under `path`: the file itself, or the non-hidden
    * `*.parquet` leaves of a (possibly partitioned) directory layout,
    * listed lazily in name order.
    */
  private def listParquet(conf: Configuration, p: Path): Iterator[FileStatus] = {
    val fs = p.getFileSystem(conf)
    def walk(s: FileStatus): Iterator[FileStatus] =
      if (s.isDirectory)
        fs.listStatus(s.getPath).sortBy(_.getPath.getName).iterator
          .filterNot { c =>
            val n = c.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
          .flatMap(walk)
      else if (s.getPath.getName.endsWith(".parquet")) Iterator(s)
      else Iterator.empty
    val root = fs.getFileStatus(p)
    if (root.isFile) Iterator(root) else walk(root)
  }
}
