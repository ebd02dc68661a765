package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, UTC, small shuffle). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The description of every Spark job `body` starts; the listener bus is
    * drained on both sides, so no earlier job leaks in and none is missed.
    */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.synchronized {
          seen += Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftBridge.drain(spark)
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.sql.GraftBridge.drain(spark)
      sc.removeSparkListener(listener)
    }
    seen.synchronized(seen.toSeq)
  }

  private val tempDirs = mutable.ArrayBuffer[Path]()

  /** A fresh temporary directory, deleted with its contents after the
    * spec's last test.
    */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}
