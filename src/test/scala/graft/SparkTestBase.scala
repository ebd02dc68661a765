package graft

import java.nio.file.Path

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

  private val scratch = new Scratch.Scope

  /** A fresh temporary directory, deleted with its contents after the
    * spec's last test.
    */
  def tempDir(prefix: String): Path = scratch.dir(prefix)

  override def afterAll(): Unit =
    try scratch.close() finally super.afterAll()
}
