package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.certs.{Cert, TierCheck}

/** Correctness dump: each cert's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in `$outDir/_failures.json` (name → message), so a
  * fixture drift that breaks N queries shows up as N named entries in one
  * manifest instead of N silently-absent result dirs (round 8 lost 11
  * entries that way).
  */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeJsonMap(path: String, m: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))

  /** Run every cert, dump results + oracle SQL + failure manifest under
    * `outDir`; returns the failures (empty when all certs ran). A cert
    * whose run disagrees with its declared tier is a failure too (its
    * dump is still written). Factored out of `main` so VerifySpec can
    * drive it with deliberately broken certs.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      certs: Seq[Cert]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val tiers = new TierCheck(spark)
    try certs.foreach { c =>
      tiers.reset()
      try {
        c.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${c.name}")
        tiers.mismatch(c).foreach(failures(c.name) = _)
      } catch { case e: Throwable =>
        failures(c.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      failures.get(c.name).foreach(m =>
        System.err.println(s"[verify] ${c.name} failed: $m"))
    } finally tiers.close()
    writeJsonMap(s"$outDir/oracle_sql.json", certs.map(c => c.name -> c.oracle))
    // always written — an empty {} distinguishes "all green" from "the
    // manifest step itself never ran"
    writeJsonMap(s"$outDir/_failures.json", failures)
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // same default as Bench: full machine parallelism unless overridden
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    // shared runtime confs (incl. RocksDB + changelog checkpointing as
    // the stateful-query default) come from GraftSession.builder
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_VERIFY_ONLY (comma-separated names): a DIAGNOSIS knob
    // like Bench's — re-verify a subset in a fresh JVM without paying
    // the full surface. Unset in driver runs.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    run(spark, sfDir, outDir, Cert.all.filter(c => only.forall(_.contains(c.name))))
    spark.stop()
  }
}
