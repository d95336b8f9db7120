package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full job, end-to-end (SURVEY.md §3.1 + §3.2):
  * UC#1 row-count reconciliation feeding UC#2 integrity checks, with the
  * three CSV reports.
  *
  * Reference shape: ~2 + 4·T + 2·P sequential `hive` CLI forks plus
  * driver-side diff/grep/md5sum over text files
  * (verizon_automation_script.sh:90-255). Engine shape: each table of
  * each side is read once, by one grouped aggregate yielding every
  * partition's count and XOR content digest ([[Fingerprint.perGroup]]).
  * One full outer join on (table, null-safe partition spec) derives the
  * UC#1 `status` and the UC#2 `consistent` flag together. That joined
  * frame is the one cached relation and both reports are projections of
  * it: a fixed number of Spark jobs, no driver round trip between UC#1
  * and UC#2, and only count/digest records ever leave the executors.
  *
  * Known trade: a whole-table count used to be served from parquet
  * footers; now it reads the table. A count-mismatched unpartitioned
  * table costs one hashed scan instead of a footer read; every other
  * table is read once instead of twice.
  *
  * @param tables (name, partitionColumns) — empty partitionColumns means
  *               whole-table reconciliation, like the reference's
  *               unpartitioned branch (:213).
  */
class ReconcilePipeline(
    spark: SparkSession,
    srcDir: String,
    tgtDir: String,
    tables: Seq[(String, Seq[String])],
    sampleSize: Int = 10) {

  /** (table, partition, cnt, xor_hash) of every partition of `tbls` in
    * `dir`: one grouped aggregate per table, over `read` of its rows.
    */
  private def records(dir: String, tbls: Seq[(String, Seq[String])],
      read: DataFrame => DataFrame = identity): DataFrame =
    tbls.map { case (name, partCols) =>
      Fingerprint.perGroup(read(Tables.load(spark, dir, name)), partCols)
        .select(lit(name).as("table"), PartitionCounts.spec(partCols).as("partition"),
          col("cnt"), col("xor_hash"))
    }.reduce(_ unionByName _)

  /** Both sides' records joined: counts, `status` and `consistent`. */
  private def compare(src: DataFrame, tgt: DataFrame): DataFrame =
    Reconcile.counts(src, tgt).withColumn("consistent",
      col("src_cnt") <=> col("tgt_cnt") && col("src_xor_hash") <=> col("tgt_xor_hash"))

  /** The one cached relation: reused by three report sinks and UC#2. */
  private lazy val joined: DataFrame =
    CacheScope.cached(compare(records(srcDir, tables), records(tgtDir, tables)))

  /** UC#1: per-(table, partition) count reconciliation report. */
  lazy val report: DataFrame =
    joined.select("table", "partition", "src_cnt", "tgt_cnt", "status")

  /** UC#2: every partition's content-digest comparison, for the tables
    * with at least one count-matched partition. The reference hashes a
    * 10-row sample per matched (table, partition)
    * (verizon_automation_script.sh:219-243); here the digest covers ALL
    * rows, because the UC#1 aggregate already computed it: this is the
    * cached records semi-joined to their matched tables, with no scan
    * and no driver round trip of its own.
    *
    * `sampled = true` is the faithful form: the same records over each
    * matched table's deterministic `sampleSize`-row sample
    * ([[Sample.limitN]]). It lists the matched tables on the driver
    * (≤ T rows) so that it samples only those.
    */
  def integrity(sampled: Boolean = false): DataFrame = {
    val matchedTables = Reconcile.matched(report).select("table")
    val cmp =
      if (!sampled) joined.join(matchedTables, Seq("table"), "left_semi")
      else {
        val names = matchedTables.distinct().collect().map(_.getString(0)).toSet
        val ts = tables.filter { case (n, _) => names(n) }
        val sample = (df: DataFrame) => Sample.limitN(df, sampleSize)
        if (ts.isEmpty) joined.limit(0)
        else compare(records(srcDir, ts, sample), records(tgtDir, ts, sample))
      }
    cmp.select("table", "partition", "src_cnt", "tgt_cnt", "consistent")
  }

  /** Write the reference's three reports (K2): MatchedData,
    * TableMismatchedData, TableDataNotConsistent.
    */
  def writeReports(outDir: String): Unit = {
    Reports.writeCsv(Reconcile.matched(report), s"$outDir/MatchedData")
    Reports.writeCsv(Reconcile.mismatched(report), s"$outDir/TableMismatchedData")
    Reports.writeCsv(integrity().filter(!col("consistent")),
      s"$outDir/TableDataNotConsistent")
  }
}
