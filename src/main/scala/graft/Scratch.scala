package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

/** The engine's temporary directories; nothing else in `src` creates one.
  *
  * An execution's scratch lives in a [[Scope]]: [[SparkEntry.run]] opens one
  * around an entry's construction and its sink ([[scoped]]), entries ask it
  * for directories ([[dir]]), and the scope deletes them when the sink
  * returns or throws. The session roots ([[sessionRoot]]) outlive every
  * execution on purpose and are deleted when cleared or at JVM exit.
  */
object Scratch {

  /** Directories deleted together by [[close]]. */
  final class Scope {
    private val dirs = mutable.ArrayBuffer[Path]()
    private var closed = false

    /** A fresh directory named `prefix…`, deleted with its contents by
      * [[close]]; throws once the scope is closed.
      */
    def dir(prefix: String): Path = synchronized {
      if (closed)
        throw new IllegalStateException(s"scratch scope is closed: no $prefix")
      val d = Files.createTempDirectory(prefix)
      dirs += d
      d
    }

    /** Deletes every directory of this scope; later calls do nothing. */
    def close(): Unit = synchronized {
      closed = true
      dirs.foreach(delete)
      dirs.clear()
    }
  }

  private val current = new ThreadLocal[Scope]

  /** Runs `body` with a new scope as this thread's current one, then
    * restores the caller's scope and deletes the new one's directories,
    * also when `body` throws.
    */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.close()
    }
  }

  /** A fresh directory of this thread's current scope. */
  def dir(prefix: String): Path = current.get match {
    case null => throw new IllegalStateException(
      s"no scratch scope for $prefix: run the entry through SparkEntry.run")
    case scope => scope.dir(prefix)
  }

  private val sessionRoots = new ConcurrentHashMap[String, Path]()
  sys.addShutdownHook(clearSessionRoots())

  /** `<tmp>/root`, where `<tmp>` is a directory named `prefix…` that `build`
    * filled ONCE per JVM for `key`; later calls with the same `key` return
    * it without building. A failed build leaves nothing behind.
    */
  def sessionRoot(key: String, prefix: String)(build: String => Unit): String =
    sessionRoots.computeIfAbsent(key, _ => {
      val tmp = Files.createTempDirectory(prefix)
      try build(tmp.resolve("root").toString)
      catch { case e: Throwable => delete(tmp); throw e }
      tmp
    }).resolve("root").toString

  /** Drops every session root and deletes its directory. PlanSnapshotSpec
    * calls it so a query's golden `prequery_jobs` always records the COLD
    * construction, whichever suite ran first in the shared test JVM.
    */
  def clearSessionRoots(): Unit =
    sessionRoots.keySet.forEach { k =>
      Option(sessionRoots.remove(k)).foreach(delete)
    }

  private def delete(d: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
}
