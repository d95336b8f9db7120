package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites use
  * `lazy val` so the first suite to run pays the startup cost).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the graft-delim partition-DDL catalog, like GraftSession wires it
      .config("spark.sql.catalog.graft_cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // the builder's one local filesystem, so specs run the file://
      // path the engine ships
      .config(GraftSession.LocalFsImpl._1, GraftSession.LocalFsImpl._2)
      .config(GraftSession.LocalAbstractFsImpl._1, GraftSession.LocalAbstractFsImpl._2)
      // the builder's compiled-class cache size, so a spec that pins
      // compile counts sees the cache the engine runs with
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toLong)
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

  /** Run `body` under the RocksDB state store provider, restoring the
    * previous conf after (shared by the transformWithState suites).
    */
  def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
