package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result and trace files. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Json.Raw => raw.text
    case other => quote(other.toString)
  }

  final case class Raw(text: String)

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Evidence about the host and the process, read from the OS. */
object Host {
  def load1(): Double =
    Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  /** CPU time the hypervisor gave to other guests while this one wanted it,
    * summed over all CPUs, in seconds (the `steal` column of /proc/stat,
    * assuming the usual 100 ticks per second).
    */
  def stealS(): Double =
    Files.readAllLines(Path.of("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toDouble / 100.0).getOrElse(Double.NaN)

  /** CPU time of every thread of this JVM, in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Fs {
  /** Regular files below `root`, recursively (none when it does not exist). */
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Bytes of the data files below `root`: Spark's checksum and marker files
    * are bookkeeping, not stored data.
    */
  def dataBytes(root: Path): Long =
    files(root).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }.map(Files.size).sum

  def dataFiles(root: Path): Seq[Path] =
    files(root).filter(_.getFileName.toString.startsWith("part-"))

  /** Copies the tree at `from` to `to`, which must not exist yet. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }

  def rmTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
