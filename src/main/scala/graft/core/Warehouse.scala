package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-scoped MERGE (upsert) for directory-partitioned tables —
  * the table-maintenance operation the reference's warehouse performs
  * with `INSERT OVERWRITE TABLE ... PARTITION(...)` (the Hive layout
  * every loader in verizon_automation_script.sh writes into).
  *
  * Without a table format that supports row-level MERGE, the correct
  * 100 TB shape is: (1) find the partitions the change-set touches,
  * (2) read ONLY those partitions (static partition filter → directory
  * pruning, no data files of other partitions opened), (3) apply
  * upsert semantics with an anti-join + union, (4) rewrite ONLY those
  * partitions via dynamic partition overwrite
  * (`spark.sql.sources.partitionOverwriteMode=dynamic`) — every other
  * partition's files are physically untouched, so a correction to last
  * month never rewrites seven years of history.
  *
  * The affected-partition list is collected to the driver: it is
  * metadata bounded by the partition count (the same cardinality a
  * metastore `ALTER TABLE ... PARTITION` call handles), never row data
  * — same documented pattern as ReconcilePipeline's table list.
  */
object Warehouse {

  /** Upsert `changes` into the subset of `base` lying in the partitions
    * `changes` touches. Keyed on `key`: a base row whose key appears in
    * `changes` is replaced, other base rows of the touched partitions
    * are kept, change rows with new keys are inserted. Returns ONLY the
    * merged content of the touched partitions (the rewrite set) — the
    * caller writes it with dynamic partition overwrite.
    *
    * `base` must be the partitioned read (so the `isin` filter resolves
    * as a PartitionFilter); `changes` must carry the same schema
    * including `partCol`.
    */
  def mergeByKey(base: DataFrame, changes: DataFrame,
                 key: String, partCol: String): DataFrame = {
    val touched = affectedPartitions(changes, partCol)
    require(touched.nonEmpty, "mergeByKey: empty change set")
    // a null partition value would collect as null and `isin(null)`
    // evaluates to NULL — the scoped read would silently EXCLUDE the
    // default (__HIVE_DEFAULT_PARTITION__) partition's base rows while
    // still unioning the null-keyed change rows in, so those keys are
    // never anti-joined against their base. Refuse loudly instead.
    require(!touched.contains(null),
      s"mergeByKey: change set has a NULL $partCol — null-partition " +
        "merges are not supported (isin(null) cannot scope the read); " +
        "route null-keyed changes to a dedicated default-partition pass")
    val scoped = base.filter(col(partCol).isin(touched: _*))
    scoped.join(changes.select(col(key)), Seq(key), "left_anti")
      .unionByName(changes)
  }

  /** Distinct partition values of the change set (driver-side, bounded
    * by the partition count). Values are collected in the column's
    * NATIVE type — an injected string cast on a non-string partition
    * column would wrap the scan's `isin` in a cast and stop it
    * resolving as a PartitionFilter, silently scanning every
    * partition. Returned sorted by string form for determinism only.
    */
  def affectedPartitions(changes: DataFrame, partCol: String): Seq[Any] =
    changes.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq.sortBy(String.valueOf(_))

  /** Write the merge output with dynamic partition overwrite: only the
    * partitions present in `merged` are replaced at `path`. The conf is
    * pinned for the (eager) write and restored after — safe here
    * because `save()` executes before restore, unlike a lazily
    * consumed frame.
    *
    * `merged` must not read from `path` (Spark rejects overwriting a
    * path being read); stage it first — see ReconcileCerts for the
    * stage-then-swap shape.
    */
  def overwritePartitions(merged: DataFrame, path: String,
                          partCol: String): Unit = {
    val spark = merged.sparkSession
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    try merged.write.mode("overwrite").partitionBy(partCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None    => spark.conf.unset(conf)
    }
  }

  /** (name, size, mtime) fingerprint of one partition directory — the
    * witness that a merge did not touch it. Goes through the Hadoop
    * FileSystem API so the same witness works on any path scheme the
    * table lives under (local FS here, object stores in production),
    * not just `java.io.File`-visible paths.
    */
  def partitionFileSnapshot(tableDir: String, partCol: String,
                            value: String): Seq[(String, Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$tableDir/$partCol=$value")
    val fs = dir.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }
}
