package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites use
  * `lazy val` so the first suite to run pays the startup cost). It is the
  * engine's own `GraftSession.builder`, so every spec runs the confs the
  * engine ships.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf001: String = TestSpark.sf001

  /** Temp directory deleted after the suite — fixtures written through
    * this don't accumulate across test runs.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs += d
    d
  }
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  override protected def afterAll(): Unit = {
    tempDirs.foreach(core.Scratch.rmTree)
    super.afterAll()
  }
}
