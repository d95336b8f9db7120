package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite
import graft.sources.v2.{DelimLog, DelimV2}

/** CI pin for the manifest's metadata scale envelope (STRESS.md §15):
  * the driver-side commit/parse/prune paths must stay within loose
  * bounds at a 20k-entry manifest — a regression to quadratic parsing
  * or per-entry filesystem calls trips this long before the measured
  * 100k envelope erodes. Bounds are ~10x the measured values so box
  * noise cannot flake the suite.
  */
class ManifestScaleSpec extends SparkFunSuite {

  test("20k-entry manifest: commit, parse, and stats-prune stay in envelope") {
    val t = s"${tempDir("manifest-scale")}/t"
    val hp = new HPath(t)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(hp)
    val struct = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v DOUBLE, pc STRING")
    val schema = DelimLog.ManifestSchema(Seq("pc"), struct)
    val n = 20000
    val entries = (0 until n).map { i =>
      val lo = i.toLong * 1000
      DelimLog.ManifestEntry(1L << 20, 1L, f"pc=p${i % 100}%03d/part-$i%06d.txt",
        DelimV2.encodeStats(1000L, Seq(
          ("id", lo.toString, (lo + 999).toString, 0L),
          ("v", "0.0", "1.0", 5L))))
    }
    val m = DelimLog.DelimManifest(entries, multiLine = false, gen = 1L,
      retain = 1, schemas = Map(1L -> schema))
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, commitS) = timed(DelimLog.commitManifest(fs, hp, m))
    assert(commitS < 3.0, f"20k-entry commit took $commitS%.2fs (envelope 3s)")
    val (parsed, parseS) = timed(DelimLog.readManifest(fs, hp).get)
    assert(parsed.files.size == n)
    assert(parseS < 1.5, f"20k-entry parse took $parseS%.2fs (envelope 1.5s)")
    val (kept, pruneS) = timed {
      val listed = DelimV2.listedFromManifest(hp, parsed)
      val pred = DelimV2.compileStatsPredicate(
        org.apache.spark.sql.sources.GreaterThanOrEqual(
          "id", (n.toLong - 2) * 1000),
        c => struct.fields.find(_.name == c).map(_.dataType))
      listed.count(f => f.stats != null && pred(f.stats))
    }
    assert(kept == 2, s"stats skipping kept $kept of $n")
    assert(pruneS < 3.0, f"20k-entry prune walk took $pruneS%.2fs (envelope 3s)")
  }
}
