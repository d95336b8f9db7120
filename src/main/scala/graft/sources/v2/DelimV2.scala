package graft.sources.v2

import java.time.LocalDate
import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for delimited text — the engine's source-side
  * analog of the round-13 whole-operator tier: instead of reading raw
  * lines and splitting them in a projection (core.Delim, the
  * compare_tables.sh:3-9 shape), the SOURCE itself understands fields,
  * so Catalyst's scan-level optimizations apply to delimited data the
  * way they apply to parquet:
  *
  *  - '''column pruning''' (`SupportsPushDownRequiredColumns`): the
  *    reader parses a line only up to the last field any surviving
  *    column or pushed filter needs — a 2-column projection over a
  *    40-field line never materializes fields 3..40 (awk reads every
  *    field of every line; Spark's CSV reader tokenizes the full row);
  *  - '''filter pushdown''' (`SupportsPushDownFilters`): eq / range /
  *    null / IN / prefix predicates on typed columns are evaluated on
  *    the parsed values inside the scan, BEFORE a row object exists.
  *    Pushed filters are absorbed exactly (the source returns only
  *    non-handled filters as residual), so a selective predicate means
  *    the rows never enter the query at all;
  *  - '''limit pushdown''' (`SupportsPushDownLimit`, partial): each
  *    split stops after N emitted rows — `LIMIT 10` over a 100 TB
  *    directory touches ~10 rows per split, not the corpus;
  *  - '''split planning''': files are divided into byte-range splits
  *    (default `spark.sql.files.maxPartitionBytes`, override via the
  *    `splitBytes` option) with newline realignment using the
  *    classic contract — a split reads lines that START at offset
  *    `<=` its end and skips its leading partial line when it does
  *    not begin at 0 — so every line lands in exactly one task and
  *    a single huge file still fans out across the cluster;
  *  - '''statistics''' (`SupportsReportStatistics`): pruned-width
  *    size estimate, so a small delimited dimension is broadcast by
  *    the planner like any other small table.
  *
  * Types: STRING, INT, BIGINT, DOUBLE, DATE (ISO) — a malformed or
  * empty typed field is null (permissive mode). A missing trailing
  * field is null; an explicitly empty string field is `""` (awk `$N`
  * semantics, matching core.Delim). Compressed files are not
  * supported (they are not byte-range splittable; decompression
  * belongs to a codec layer this fixture does not need).
  *
  * Registered as `graft-delim` via DataSourceRegister (see
  * META-INF/services), usable as
  * `spark.read.format("graft-delim").schema(...).load(path)`.
  */
class DelimSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-delim"

  override def supportsExternalMetadata(): Boolean = true

  /** Infer c1..cN (all STRING) from the first line of the first file —
    * the same contract core.Delim.read exposes, discoverable instead
    * of caller-supplied — plus one STRING column per discovered `k=v`
    * partition directory level, appended after the file fields (the
    * Hive-layout convention).
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val vAsOf = DelimV2.asOfGen(options)
    val conf = DelimV2.driverConf()
    // a manifest-recorded writer schema for the listed generation IS
    // the inference: names AND types for free (the typed contract the
    // reference never had — its `SELECT *` treats every table as
    // opaque text, verizon_automation_script.sh:220)
    val recorded = DelimV2.paths(options).iterator.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isDirectory).flatMap { st =>
          val m = vAsOf match {
            case Some(g) => Some(DelimLog.readManifestVersion(fs, st.getPath, g))
            case None => DelimLog.readManifest(fs, st.getPath)
          }
          m.flatMap(mm => mm.schemas.get(mm.gen).map(_.struct))
        }
    }.toSeq.headOption
    recorded.getOrElse {
      val delim = DelimV2.delimiter(options)
      val quote = DelimV2.quoteChar(options)
      val framing =
        if (DelimV2.multiLine(options) ||
          DelimLog.manifestMultiLine(DelimV2.paths(options), conf, vAsOf))
          quote
        else -1
      val files = DelimV2.listSnapshot(DelimV2.paths(options), conf, vAsOf).files
      val nCols = files.map(_.status).find(_.getLen > 0).map { f =>
        val fs = f.getPath.getFileSystem(conf)
        val in = fs.open(f.getPath)
        try {
          val line = new LineSplitReader(in, 0L, f.getLen, f.getLen, framing).nextLine()
          if (line == null) 1 else DelimV2.countFields(line, delim, quote)
        } finally in.close()
      }.getOrElse(1)
      // union partition keys across ALL files (first-seen path order):
      // a flat file sorting ahead of the k=v dirs, or heterogeneous
      // partition depths, must not silently drop directory columns
      val partKeys = files.iterator.flatMap(_.pvals.map(_._1)).toSeq.distinct
      StructType((1 to nCols).map(i => StructField(s"c$i", StringType, nullable = true)) ++
        partKeys.map(k => StructField(k, StringType, nullable = true)))
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new DelimTable(schema, new CaseInsensitiveStringMap(properties))
}

private[v2] class DelimTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` METADATA COLUMN (the source file of each row): queryable
    * like Iceberg's, and the GROUP KEY for row-level operations —
    * Spark's runtime group filtering delivers the matched groups as an
    * `In(_file, ...)` runtime filter, which the scan applies at FILE
    * level, and the copy-on-write MERGE therefore reads and rewrites
    * only the files that contain matches. Requesting a metadata
    * attribute is also what routes the row-level write through
    * Spark's projecting task (carry-over rows arrive tagged
    * WRITE_WITH_METADATA_OPERATION with the data row projected out).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = DelimV2.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "absolute path of the row's source file"
    })

  override def name(): String = s"graft-delim ${DelimV2.paths(options).mkString(",")}"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA: on the PATH-based write path the table is
  // constructed from the (possibly nonexistent) target directory, so
  // output resolution must take the QUERY's schema
  // (LogicalWriteInfo.schema), not the inferred one. CATALOG tables
  // (DelimPartitionedTable) override this WITHOUT the capability: they
  // have a real declared schema, Spark's own output alignment against
  // it is strictly better — and MERGE INTO resolution skips resolving
  // target columns for accept-any-schema tables, which would break the
  // row-level SQL front door.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new DelimScanBuilder(tableSchema, DelimTable.merged(options, caseInsensitiveOptions))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new DelimWriteBuilder(info,
      DelimTable.merged(options, info.options()), tableSchema)

  /** SQL MERGE/UPDATE/DELETE: group-based copy-on-write by default
    * ([[DelimRowLevelOperation]]); DELTA-BASED merge-on-read
    * ([[DelimDeltaOperation]]) when the table declares
    * `mergeMode 'merge-on-read'` plus a `rowId` key column — a narrow
    * MERGE then leaves every matched data file byte-identical and
    * commits one key-equality tombstone + the delta's insert files.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      val merged = DelimTable.merged(options, info.options())
      val mode = Option(merged.get("mergeMode")).getOrElse("copy-on-write")
      if (mode.equalsIgnoreCase("merge-on-read")) {
        val rid = Option(merged.get("rowId")).getOrElse(
          throw new IllegalArgumentException(
            "graft-delim: mergeMode 'merge-on-read' requires a " +
              "rowId '<key column>' table option"))
        require(tableSchema.fieldNames.contains(rid),
          s"graft-delim: rowId column $rid not in the table schema")
        require(DelimV2.pushableType(tableSchema(rid).dataType),
          s"graft-delim: rowId column $rid has untombstoneable type " +
            tableSchema(rid).dataType.simpleString)
        require(!tableSchema(rid).nullable,
          s"graft-delim: rowId column $rid must be declared NOT NULL " +
            "(a null key cannot be tombstoned by equality)")
        new DelimDeltaOperation(info.command(), tableSchema, merged, rid)
      } else {
        require(mode.equalsIgnoreCase("copy-on-write"),
          s"graft-delim: mergeMode must be copy-on-write or " +
            s"merge-on-read, got '$mode'")
        new DelimRowLevelOperation(info.command(), tableSchema, merged)
      }
    }

  // ---- MERGE-ON-READ DELETE (SupportsDelete): when the whole DELETE
  // condition translates to pushable filters, Spark's
  // OptimizeMetadataOnlyDeleteFromTable routes here INSTEAD of the
  // copy-on-write rewrite — at 100 TB a 10-row correction must not
  // rewrite every matched file. Partition-only conjunctions drop the
  // matched entries from the manifest outright (a true metadata
  // delete); data-column conditions commit a TOMBSTONE the scans
  // apply per row to files at or before its generation. Untranslatable
  // conditions decline and fall back to the CoW rewrite.

  private def tableRoot: HPath = new HPath(DelimV2.paths(options).head)
  private def rootFs: org.apache.hadoop.fs.FileSystem =
    tableRoot.getFileSystem(DelimV2.driverConf())

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    tableSchema.nonEmpty && filters.nonEmpty &&
      DelimV2.paths(options).size == 1 &&
      filters.forall(f => DelimV2.supportedFilter(f, tableSchema)) &&
      DelimLog.readManifest(rootFs, tableRoot).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters),
      "graft-delim: deleteWhere called with a condition canDeleteWhere " +
        s"rejected: ${filters.mkString(", ")}")
    val fs = rootFs
    val root = tableRoot
    val m = DelimLog.readManifest(fs, root).get
    val partKeys = DelimV2.listedFromManifest(root, m)
      .flatMap(_.pvals.map(_._1)).toSet
    if (filters.forall(_.references.forall(partKeys.contains))) {
      // partition-only: the matched files leave the manifest (their
      // bytes stay for retained versionAsOf snapshots and die with
      // retention) — zero data reads, zero tombstone debt
      val partFields = tableSchema.fields.filter(f => partKeys.contains(f.name))
      val idxOf = partFields.map(_.name).zipWithIndex.toMap
      val types = partFields.map(_.dataType)
      val preds = filters.map(DelimV2.compileFilter(_, idxOf, types))
      def matches(pvals: Seq[(String, String)]): Boolean = {
        val ext = partFields.map(pf => DelimV2.parseExternal(
          pvals.collectFirst { case (k, v) if k == pf.name => v }.orNull,
          pf.dataType)).toArray[Any]
        preds.forall(_(ext))
      }
      DelimLog.commit(fs, root, m) { (_, _) =>
        m.copy(files = m.files.filterNot(e =>
          matches(DelimV2.partValues(DelimLog.dirOf(e.rel)))))
      }
    } else
      DelimLog.commit(fs, root, m) { (newGen, _) =>
        m.copy(tombstones = m.tombstones :+
          (newGen -> DelimV2.encodeTombstone(filters.toSeq, tableSchema)))
      }
  }

  /** TRUNCATE TABLE (TruncatableTable default routes here): an empty
    * snapshot through the same commit protocol; expired files die,
    * retained ones stay readable via versionAsOf.
    */
  override def truncateTable(): Boolean = {
    val fs = rootFs
    val root = tableRoot
    DelimLog.readManifest(fs, root) match {
      case None =>
        // Spark's TruncateTableExec treats a false return as SUCCESS
        // (it only skips cache refresh) — returning false here would
        // make TRUNCATE on a legacy/manifest-less directory silently
        // do nothing. Fail loudly instead.
        throw new UnsupportedOperationException(
          s"graft-delim: TRUNCATE TABLE requires a manifest-bearing " +
            s"table; '$root' has no _manifest (legacy directory) — " +
            "overwrite it with an empty dataset instead")
      case Some(m) =>
        DelimLog.commit(fs, root, m)((_, _) => m.copy(files = Nil))
        true
    }
  }
}

private[v2] object DelimTable {
  /** Table-level properties overlaid with the per-operation options —
    * a CATALOG table (`CREATE TABLE ... USING graft-delim OPTIONS
    * (path ...)`) carries path/delimiter/partitionBy in its table
    * properties, while a SQL `SELECT`/`INSERT` hands the builders
    * EMPTY per-operation options; path reads (`.load(p)`) carry them
    * per-operation. Per-operation keys win on conflict.
    */
  def merged(table: CaseInsensitiveStringMap,
      op: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String]()
    table.entrySet().forEach(e => m.put(e.getKey, e.getValue))
    op.entrySet().forEach(e => m.put(e.getKey, e.getValue))
    new CaseInsensitiveStringMap(m)
  }
}

private[v2] class DelimScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Array[DelimSortKey] = Array.empty
  private var aggCountCols: Int = 0
  private var completeAggRow: Array[Any] = null

  // one listing per query, shared by the builder's partition-awareness
  // and the scan (files + their k=v directory values + per-generation
  // field layouts + the committed manifest the listing planned from).
  // Materialized lazily AFTER filter pushdown (Spark's V2 pushdown
  // order: filters, then aggregates, then build), so a SEGMENTED
  // manifest can skip loading the segments a pushed partition
  // equality excludes — the listing itself prunes, not just the
  // split planning.
  private lazy val snapshot =
    DelimV2.listSnapshot(DelimV2.paths(options), DelimV2.driverConf(),
      DelimV2.asOfGen(options), segPruneCands)

  /** Pushed equality/In conjuncts as (column → candidate partition
    * DIRECTORY values) — the values formatted exactly as the writer
    * names k=v directories. Only types whose external filter value
    * prints identically to the writer's field text qualify; a value
    * the writer could never have used as a partition value (path
    * separators, '=', the Hive null token) disqualifies its conjunct
    * rather than risking a mismatched prune.
    */
  private def segPruneCands: Seq[(String, Seq[String])] = {
    def dirValue(v: Any): Option[String] = v match {
      case s: String
          if s != DelimV2.HiveDefaultPartition &&
            !s.exists(c => c == '/' || c == '=' || c == '\n' || c == '\r') =>
        Some(s)
      case i: java.lang.Integer => Some(i.toString)
      case l: java.lang.Long => Some(l.toString)
      case _ => None
    }
    pushed.toSeq.flatMap {
      case org.apache.spark.sql.sources.EqualTo(c, v) if v != null =>
        dirValue(v).map(s => c -> Seq(s))
      case org.apache.spark.sql.sources.EqualNullSafe(c, v) if v != null =>
        dirValue(v).map(s => c -> Seq(s))
      case org.apache.spark.sql.sources.In(c, vs)
          if vs != null && vs.nonEmpty && vs.forall(_ != null) &&
            vs.length <= 64 =>
        val svs = vs.toSeq.flatMap(dirValue(_).toSeq)
        if (svs.length == vs.length) Some(c -> svs) else None
      case _ => None
    }
  }
  private lazy val filesWithParts = snapshot.files
  /** The manifest generation this builder's listing planned from —
    * the optimistic-concurrency anchor for row-level (CoW) commits.
    */
  protected def snapshotGen: Option[Long] = snapshot.manifest.map(_.gen)
  protected lazy val partKeySet: Set[String] =
    filesWithParts.flatMap(_.pvals.map(_._1)).toSet
  private lazy val builderPartFields: Array[StructField] =
    fullSchema.fields.filter(f => partKeySet.contains(f.name))

  /** Files surviving the pushed partition-only filters — the set the
    * count/stats pushdowns would answer over (mirrors the scan's
    * staticKept, same compile/parse path). A filter that fails to
    * compile keeps every file (conservative: a larger kept set can
    * only DECLINE more pushdowns below, never mis-answer one). */
  private def partKeptFiles: Seq[DelimV2.ListedFile] = {
    val pf = builderPartFields
    val idxOf = pf.map(_.name).zipWithIndex.toMap
    val types = pf.map(_.dataType)
    val preds = pushed.toSeq
      .filter(f => f.references.nonEmpty && f.references.forall(idxOf.contains))
      .flatMap { f =>
        try Some(DelimV2.compileFilter(f, idxOf, types))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    if (preds.isEmpty) filesWithParts
    else filesWithParts.filter { lf =>
      val ext = new Array[Any](pf.length)
      var i = 0
      while (i < pf.length) {
        ext(i) = DelimV2.parseExternal(lf.pvals.collectFirst {
          case (k, v) if k == pf(i).name => v }.orNull, types(i))
        i += 1
      }
      preds.forall(_(ext))
    }
  }

  /** Per-file tombstone uncertainty for the aggregate pushdowns — see
    * [[DelimV2.tombUncertainFn]]; applied per root like every
    * tombstone consumer. */
  private lazy val builderTombUncertain: DelimV2.ListedFile => Boolean =
    DelimV2.tombUncertainFn(
      snapshot.rootTombstones, fullSchema, builderPartFields)

  /** PARTIAL COUNT(*) pushdown (supportCompletePushDown stays false):
    * each split returns ONE row with its owned-line count, found by
    * scanning bytes for '\n' under the same split contract as the row
    * reader — no parse, no String, no InternalRow per line; Spark sums
    * the per-split partials. Declined when DATA-column filters are
    * pushed (they must be evaluated on parsed fields) or a GROUP BY
    * exists; PARTITION-column filters are fine — they resolve at FILE
    * level during split planning, so a partition-scoped COUNT(*) is
    * still a zero-parse newline count over the surviving files.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    completeAggSpec(agg) match {
      case Some((row, schema)) =>
        // COMPLETE pushdown from manifest FILE STATS: MIN/MAX/COUNT
        // answered from the per-file bounds the writers recorded — the
        // scan emits ONE precomputed row and reads ZERO data bytes
        // (the 100 TB form of the reference's stats-served counts)
        completeAggRow = row
        required = schema
        return true
      case None => ()
    }
    if (pushed.exists(f => !f.references.forall(partKeySet.contains)) ||
      agg.groupByExpressions().nonEmpty ||
      agg.aggregateExpressions().isEmpty ||
      // MoR tombstones: the zero-parse newline count would include
      // deleted rows — but only for files a live tombstone could
      // TOUCH (round-20 scoping: generation at/before the tombstone's
      // and partition not provably disjoint); a count over untouched
      // partitions stays a zero-parse pushdown even with live debt
      partKeptFiles.exists(builderTombUncertain) ||
      !agg.aggregateExpressions().forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]))
      return false
    aggCountCols = agg.aggregateExpressions().length
    required = StructType((1 to aggCountCols).map(_ =>
      StructField("count(*)", LongType, nullable = false)))
    true
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    completeAggSpec(agg).isDefined

  /** The precomputed answer row (internal representation) + its schema
    * for a fully-stats-answerable aggregation: no filters, no GROUP BY,
    * every aggregate a MIN/MAX/COUNT over a column every live file's
    * stats bound (or a partition column), COUNT(*) from the recorded
    * row counts. None = not answerable → the partial/normal paths.
    */
  private def completeAggSpec(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Array[Any], StructType)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions().nonEmpty ||
      agg.aggregateExpressions().isEmpty) return None
    // PARTITION-only pushed filters are answerable from metadata too:
    // they resolve to a file subset (partKeptFiles, the same set the
    // scan's staticKept would read), and the stats of that subset are
    // exactly the filtered table's. Any data-column filter declines.
    if (pushed.exists(f => !(f.references.nonEmpty &&
      f.references.forall(partKeySet.contains)))) return None
    val files = if (pushed.isEmpty) filesWithParts else partKeptFiles
    // MoR tombstones: recorded stats still count deleted rows — but
    // only files a live tombstone could TOUCH decline (round-20
    // scoping); an aggregate over untouched partitions stays
    // stats-served even while the table carries delta-MERGE debt
    if (files.exists(builderTombUncertain)) return None
    // every live file must carry stats (legacy entries, listings
    // without a manifest, and zero-length stat-less files all decline)
    if (files.isEmpty || files.exists(_.stats == null)) return None
    val partKeys = partKeySet
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head).filter(fullSchema.fieldNames.contains)
      case _ => None
    }
    def dtOf(c: String): DataType = fullSchema(c).dataType
    // a column is answerable when every file bounds it (tracked data
    // column) or it is a partition column (directory values)
    def statsOf(c: String): Option[Seq[(Any, Any, Long)]] =
      if (partKeys.contains(c))
        Some(files.map { f =>
          val raw = f.pvals.collectFirst { case (k, v) if k == c => v }.orNull
          val ext = DelimV2.parseExternal(raw, dtOf(c))
          (ext, ext, if (ext == null) f.stats.rows else 0L)
        })
      else if (files.forall { f =>
        // bounds must carry the READ schema's representation — a stats
        // value decoded under a different writer type declines the
        // pushdown instead of CCE-ing in the fold below
        f.stats.cols.get(c).exists(cs =>
          DelimV2.statValueMatches(dtOf(c), cs.min) &&
            DelimV2.statValueMatches(dtOf(c), cs.max))
      })
        Some(files.map { f =>
          val cs = f.stats.cols(c)
          (cs.min, cs.max, cs.nulls)
        })
      else None
    def fold(c: String, useMin: Boolean): Option[Any] = statsOf(c).map { ss =>
      val dt = dtOf(c)
      val vals = ss.map(s => if (useMin) s._1 else s._2).filter(_ != null)
      if (vals.isEmpty) null
      else vals.reduce((a, b) =>
        if ((DelimV2.cmp(dt, a, b) <= 0) == useMin) a else b)
    }
    val totalRows = files.map(_.stats.rows).sum
    val out = agg.aggregateExpressions().map {
      case _: CountStar =>
        (Some(totalRows: Any), LongType, false)
      case m: Min =>
        val c = colOf(m.column).getOrElse(return None)
        (fold(c, useMin = true).map(v => DelimV2.toInternal(v, dtOf(c)))
          .orElse(return None).map(identity), dtOf(c), true)
      case m: Max =>
        val c = colOf(m.column).getOrElse(return None)
        (fold(c, useMin = false).map(v => DelimV2.toInternal(v, dtOf(c)))
          .orElse(return None).map(identity), dtOf(c), true)
      case cnt: Count if !cnt.isDistinct =>
        val c = colOf(cnt.column).getOrElse(return None)
        val ss = statsOf(c).getOrElse(return None)
        (Some((totalRows - ss.map(_._3).sum): Any), LongType, false)
      case _ => return None
    }
    val row = out.map(_._1.orNull)
    val schema = StructType(out.zipWithIndex.map { case ((_, dt, nullable), i) =>
      StructField(s"agg_$i", dt, nullable)
    })
    Some((row, schema))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(DelimV2.supportedFilter(_, fullSchema))
    pushed = sup
    unsup // residual: Spark keeps evaluating these; pushed ones are absorbed exactly
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true // per-split limit/top-k only

  /** Partial TopN pushdown: `ORDER BY ... LIMIT k` keeps a k-row
    * bounded heap PER SPLIT instead of emitting every row — the final
    * merge (Spark's TakeOrderedAndProject over ≤ k·splits rows)
    * replaces a full-width sort of the corpus. Accepted when every
    * sort key is a plain column of a pushable type; Spark re-orders
    * the survivors, so per-split emission order does not matter.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    val keys = orders.map { so =>
      val colName = so.expression() match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => r.fieldNames.head
        case _ => return false
      }
      if (!fullSchema.fieldNames.contains(colName) ||
        !DelimV2.pushableType(fullSchema(colName).dataType)) return false
      DelimSortKey(colName,
        so.direction() ==
          org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING,
        so.nullOrdering() ==
          org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)
    }
    if (keys.isEmpty) return false
    topN = keys
    limit = l
    true
  }

  override def build(): Scan =
    new DelimScan(fullSchema, required, pushed, limit, options, aggCountCols,
      filesWithParts, topN, completeAggRow,
      // tombstones PER ROOT: each root's tombstones apply only to its
      // own files (generation numbers are per-lineage); bloom headers
      // UNION safely across roots
      snapshot.rootTombstones,
      snapshot.unionBloomCols,
      snapshot.segmentCounts)
}

/** One pushed sort key: column, direction, null placement. */
private[v2] case class DelimSortKey(
    col: String, desc: Boolean, nullsFirst: Boolean)

/** Streaming-read offset: a manifest GENERATION number (the committed
  * snapshot counter — see DelimScan.toMicroBatchStream).
  */
private[v2] case class DelimGenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

// public: query constructions and the spec assert on readSchema/pushedFilters
class DelimScan(
    val fullSchema: StructType,
    required: StructType,
    val pushedFilters: Array[Filter],
    limit: Int,
    options: CaseInsensitiveStringMap,
    aggCountCols: Int = 0,
    filesWithParts: Seq[DelimV2.ListedFile] = null,
    topN: Array[DelimSortKey] = Array.empty,
    /** Non-null = COMPLETE aggregate pushdown: the scan emits exactly
      * this precomputed row (internal representation, one slot per
      * aggregate), answered from manifest file stats — zero data reads. */
    completeAggRow: Array[Any] = null,
    /** Merge-on-read delete tombstones, PER ROOT: (root key, (recorded
      * generation, encoded predicate) list). Applied per file at split
      * planning (see makeSplits) — only to files the same root listed;
      * a null root key (the streaming source's single-root batches)
      * applies to every file. */
    rootTombs: Seq[(String, Seq[(Long, String)])] = Nil,
    /** Bloom-sidecar columns from the snapshot's manifest header —
      * readers probe `<file>.bloom` for equality filters on these. */
    bloomCols: Seq[String] = Nil,
    /** (segments in the index, segments loaded) of the listing this
      * scan plans from — see [[DelimV2.ListingSnapshot.segmentCounts]]. */
    segmentCounts: (Int, Int) = (0, 0))
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private lazy val allFiles: Seq[DelimV2.ListedFile] =
    Option(filesWithParts).getOrElse(
      DelimV2.listSnapshot(DelimV2.paths(options), DelimV2.driverConf(),
        DelimV2.asOfGen(options)).files)

  /** Partition columns = schema fields matching a discovered `k=v`
    * directory key; every other field maps POSITIONALLY (in schema
    * order) to the file's delimited fields — or BY NAME through the
    * file's generation's recorded writer schema when the manifest
    * carries one (schema evolution: a column the file's generation
    * never wrote reads as null). Partition values come from the
    * directory name, typed by the declared schema type.
    */
  private lazy val partKeySet: Set[String] =
    allFiles.flatMap(_.pvals.map(_._1)).toSet.intersect(fullSchema.fieldNames.toSet)
  private lazy val partFields: Array[StructField] =
    fullSchema.fields.filter(f => partKeySet.contains(f.name))

  private def partitionOnly(f: Filter): Boolean =
    f.references.nonEmpty && f.references.forall(partKeySet.contains)

  /** Per-file tombstone uncertainty for the statistics paths — see
    * [[DelimV2.tombUncertainFn]]. */
  private lazy val statUncertain: DelimV2.ListedFile => Boolean =
    DelimV2.tombUncertainFn(rootTombs, fullSchema, partFields)

  /** Per-file predicate from a partition-only filter: the file's k=v
    * values, typed via the same parse/normalize path as row fields, fed
    * to the same compiled predicate — so partition pruning and row
    * filtering can never disagree on semantics.
    */
  private def partPredicate(f: Filter): Seq[(String, String)] => Boolean = {
    val idxOf = partFields.map(_.name).zipWithIndex.toMap
    val types = partFields.map(_.dataType)
    val p = DelimV2.compileFilter(f, idxOf, types)
    pvals => {
      val ext = new Array[Any](partFields.length)
      var i = 0
      while (i < partFields.length) {
        val raw = pvals.collectFirst {
          case (k, v) if k == partFields(i).name => v }.orNull
        ext(i) = DelimV2.parseExternal(raw, types(i))
        i += 1
      }
      p(ext)
    }
  }

  /** STATIC file-level pruning: pushed partition-only filters drop
    * whole files (and with them their directories' bytes) at planning —
    * the reference's own partition model (dt=/hr= trees), where the
    * 100 TB win is never opening the non-matching directories at all.
    */
  private lazy val staticKept: Seq[DelimV2.ListedFile] = {
    val preds = pushedFilters.filter(partitionOnly).map(partPredicate)
    if (preds.isEmpty) allFiles
    else allFiles.filter(f => preds.forall(_(f.pvals)))
  }

  /** Runtime (DPP-style) filters: Spark's PartitionPruning rule plugs a
    * broadcast join's build-side key set into the scan as an `In`
    * filter at EXECUTION time (`filter()` runs before
    * `createReaderFactory` on the BatchScanExec path). A delimited file
    * has no partition directories to drop, but row-level application
    * is exactly as legal (the join re-checks the key anyway) and is
    * where the win lives here: a pruned fact row is never typed,
    * never materialized, never shuffled toward the join.
    */
  private var runtimeFilters: Array[Filter] = Array.empty

  /** Set by DelimRowLevelOperation on the scan it builds: the scan is
    * a row-level (MERGE/UPDATE/DELETE) group scan, and runtime group
    * filtering should key on `_file` ALONE — Spark builds ONE filter
    * over every advertised attribute (`struct(attrs) IN subquery`),
    * which is untranslatable to a source filter and would defeat the
    * file-level pruning the group key exists for.
    */
  @volatile private[v2] var rowLevelGroupScan: Boolean = false

  // only columns that SURVIVE pruning: Spark resolves these references
  // against the scan's output — advertising a pruned-away column throws
  // "Unable to resolve ... given [...]" at planning (a runtime-filter
  // key is always in the output anyway, it feeds the join)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (aggCountCols > 0 || completeAggRow != null) Array.empty // pushed-agg scans have no row filters to honor
    else if (rowLevelGroupScan &&
      required.fieldNames.contains(DelimV2.FileMetaCol))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(DelimV2.FileMetaCol))
    else required.fields
      .filter(f => DelimV2.pushableType(f.dataType))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  // fullSchema + the `_file` metadata column (unless shadowed by a
  // data column of that name): the resolution scope for runtime
  // filters, which may target `_file` (row-level group filtering)
  private lazy val extendedSchema: StructType =
    if (fullSchema.fieldNames.contains(DelimV2.FileMetaCol)) fullSchema
    else StructType(fullSchema.fields :+
      StructField(DelimV2.FileMetaCol, StringType, nullable = false))

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(DelimV2.supportedFilter(_, extendedSchema))

  /** What actually arrived at runtime — asserted by the DPP spec. */
  def runtimeAppliedFilters: Array[Filter] = runtimeFilters

  /** The files this scan finally planned (post static + runtime
    * pruning; absolute paths) — the copy-on-write replacement set for
    * row-level operations (see DelimRowLevelOperation).
    */
  @volatile private var plannedFiles: Seq[String] = Nil
  private[v2] def lastPlannedFiles: Seq[String] = plannedFiles

  /** (files listed, files kept, splits) of the last split planning —
    * with the segment counts, this scan node's SQL metrics, reported
    * once Spark has built its input RDD (see [[DelimScanMetrics]]). */
  @volatile private var plannedCounts: (Int, Int, Int) = (0, 0, 0)

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new FilesListedMetric, new FilesKeptMetric, new SplitsPlannedMetric,
    new SegmentsIndexedMetric, new SegmentsLoadedMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val (listed, kept, splits) = plannedCounts
    supportedCustomMetrics().zip(Array[Long](listed, kept, splits,
      segmentCounts._1, segmentCounts._2)).map { case (m, v) =>
      new CustomTaskMetric { def name(): String = m.name(); def value(): Long = v }
    }
  }

  private val paths = DelimV2.paths(options)
  private val delim = DelimV2.delimiter(options)
  private val quote = DelimV2.quoteChar(options)
  // explicit option OR the committed manifest's multiline flag — the
  // writer recorded that it quoted newlines, so readers frame
  // whole-file automatically instead of silently misframing
  private val multiLine = DelimV2.multiLine(options) || {
    val m = DelimLog.manifestMultiLine(paths, DelimV2.driverConf(),
      DelimV2.asOfGen(options))
    if (m) require(DelimV2.quoteChar(options) >= 0,
      "graft-delim: this table's manifest flags quoted newlines; " +
        "it cannot be read with quote=none")
    m
  }
  // `clustered` opts the scan into REPORTING its k=v layout as
  // key-grouped partitioning (SupportsReportPartitioning below):
  // a groupBy/join on the layout key then plans with NO Exchange.
  // Opt-in, not automatic, because Spark's storage-partitioned
  // grouping merges all of a partition value's splits into ONE task —
  // exactly right when the query exploits the clustering, a
  // parallelism loss when it does not.
  private val clustered =
    java.lang.Boolean.parseBoolean(options.getOrDefault("clustered", "false"))

  /** The k=v directory layout, reported as key-grouped partitioning
    * when the read opted in via `clustered` (and the query is not the
    * pushed-count form, whose output is per-split partials).
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (clustered && partFields.nonEmpty && aggCountCols == 0 &&
      completeAggRow == null) {
      // count keys over the NON-EMPTY files only: planInputPartitions
      // drops zero-length files, so a partition value whose files are
      // all empty contributes no split group — declaring it would
      // inflate the partitioning count above what is actually emitted
      val nKeys = staticKept.filter(_.status.getLen > 0).map { f =>
        partFields.map(pf =>
          f.pvals.collectFirst { case (k, v) if k == pf.name => v }.orNull).toSeq
      }.distinct.size
      if (nKeys == 0)
        return new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partFields.map(f =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(f.name)
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]),
        nKeys)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftDelim ${paths.mkString(",")} " +
      s"PushedFilters: [${pushedFilters.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}" +
      (if (partFields.nonEmpty)
        s", PartitionColumns: [${partFields.map(_.name).mkString(", ")}]" else "") +
      (if (topN.nonEmpty)
        s", PushedTopN: ORDER BY [${topN.map(k => k.col +
          (if (k.desc) " DESC" else " ASC")).mkString(", ")}] LIMIT $limit"
      else if (limit >= 0) s", PushedLimit: $limit" else "") +
      (if (aggCountCols > 0) s", PushedAggregation: [count(*)]" else "") +
      (if (completeAggRow != null) s", PushedAggregation: [stats-complete]" else "")

  override def estimateStatistics(): Statistics = new Statistics {
    // pruned-width estimate over the STATICALLY-PRUNED file set, same
    // spirit as FileScan: bytes on disk scaled by the fraction of
    // fields that survive pruning — so a one-partition slice of a huge
    // table is broadcast-eligible like any small table
    private val total = staticKept.map(_.status.getLen).sum
    private val frac =
      if (fullSchema.isEmpty) 1.0
      else math.max(required.size, 1).toDouble / fullSchema.size
    override def sizeInBytes(): OptionalLong = OptionalLong.of((total * frac).toLong max 1L)
    // exact POST-PRUNING row count from the manifest's per-file stats
    // (an upper bound when data filters are also pushed — standard
    // stats semantics): the CBO then sizes broadcast/join decisions on
    // the real cardinality of the pruned slice instead of guessing
    // from bytes alone. Declined when any kept file lacks recorded
    // stats — a wrong row count misleads worse than none.
    override def numRows(): OptionalLong =
      // tombstones: recorded per-file counts still include deleted
      // rows — but only for files a live tombstone could TOUCH
      // (generation at/before the tombstone's, partition not provably
      // disjoint); every other file's count stays authoritative
      if (staticKept.nonEmpty && staticKept.forall(_.stats != null) &&
        !staticKept.exists(statUncertain))
        OptionalLong.of(staticKept.map(_.stats.rows).sum)
      else OptionalLong.empty()

    // COLUMN statistics for the CBO: per-column null counts and
    // distinct counts derived from the manifest's per-file stats.
    // The table-level distinct count is min(Σ per-file ndv, rows) —
    // exact-ish for keys (files partition the key space), an upper
    // bound for low-cardinality columns; a bound preserves the
    // ORDERING join reordering consumes. Declined per column when any
    // kept file lacks a recorded ndv (legacy stats), and entirely
    // under tombstones (counts include deleted rows).
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (staticKept.isEmpty || staticKept.exists(_.stats == null) ||
        staticKept.exists(statUncertain)) return out
      val rows = staticKept.map(_.stats.rows).sum
      required.fieldNames.foreach { c =>
        val per = staticKept.map(_.stats.cols.get(c))
        if (per.forall(_.exists(_.ndv >= 0L))) {
          val nulls = per.map(_.get.nulls).sum
          // clamp >= 1: an all-null column sums ndv 0, and a reported
          // distinctCount of 0 risks degenerate selectivity/division
          // paths in the CBO's join estimation
          val distinct = math.max(1L, math.min(per.map(_.get.ndv).sum,
            math.max(rows - nulls, 1L)))
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                OptionalLong.of(distinct)
              override def nullCount(): OptionalLong = OptionalLong.of(nulls)
            })
        }
      }
      out
    }
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    if (completeAggRow != null) {
      // stats-answered aggregate: one partition, one precomputed row,
      // zero file opens
      plannedCounts = (allFiles.size, 0, 1)
      return Array(DelimConstRowPartition(completeAggRow))
    }
    val splitBytes = math.max(1L, options.getLong("splitBytes",
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes))
    // RUNTIME (DPP) file-level pruning: Spark re-plans input partitions
    // after filter(), so a runtime In on a partition column drops whole
    // files here — their bytes are never read, the scale win row-level
    // pruning cannot give
    val rtPreds = runtimeFilters.filter(partitionOnly).map(partPredicate)
    // `_file`-keyed runtime filters (row-level group filtering) prune
    // WHOLE FILES: a file's `_file` value is a split constant, so the
    // predicate is decided here and never re-evaluated per row — this
    // is what makes a MERGE matching one partition's files read (and
    // therefore copy-on-write) only those files
    val filePreds = runtimeFilters
      .filter(f => f.references.nonEmpty &&
        f.references.forall(_ == DelimV2.FileMetaCol) &&
        !fullSchema.fieldNames.contains(DelimV2.FileMetaCol))
      .map(f => DelimV2.compileFilter(f,
        Map(DelimV2.FileMetaCol -> 0), Array(StringType)))
    // DATA-SKIPPING: pushed + runtime DATA filters tested against each
    // file's recorded min/max/null stats — a file whose stats PROVE no
    // row can match is never opened (the manifest is the skip index;
    // at 100 TB this is the non-partition-predicate analogue of
    // directory pruning, e.g. a key-range query over key-clustered
    // files). Conservative by construction: missing stats, unbounded
    // columns, and unsupported filter shapes all keep the file.
    val typeOfCol: String => Option[DataType] =
      c => fullSchema.fields.find(_.name == c).map(_.dataType)
    val statPreds = (pushedFilters ++ runtimeFilters)
      .filterNot(partitionOnly)
      .filterNot(f => f.references.isEmpty ||
        f.references.forall(_ == DelimV2.FileMetaCol))
      .map(DelimV2.compileStatsPredicate(_, typeOfCol))
    val kept =
      staticKept.filter { f =>
        rtPreds.forall(_(f.pvals)) && {
          lazy val fv: Array[Any] = Array(f.status.getPath.toString)
          filePreds.forall(_(fv))
        } && (f.stats == null || statPreds.forall(_(f.stats)))
      }
    plannedFiles = kept.map(_.status.getPath.toString)
    val splits = makeSplits(kept, splitBytes, rootTombs, bloomCols)
    plannedCounts = (allFiles.size, kept.size, splits.length)
    splits
  }

  /** Byte-range splits for a kept file set (shared by the batch plan
    * and the streaming source's per-generation batches). `tombs` are
    * the snapshot's delete tombstones: each file gets the complement
    * filters of the tombstones recorded AT OR AFTER its generation
    * (rows written after a delete are never re-deleted), decoded once
    * per tombstone under the read schema — a tombstone that cannot be
    * decoded fails the plan loudly rather than resurrecting rows.
    */
  private def makeSplits(
      kept: Seq[DelimV2.ListedFile], splitBytes: Long,
      tombs: Seq[(String, Seq[(Long, String)])],
      blooms: Seq[String]): Array[InputPartition] = {
    val tombFilters: Seq[(String, Long, Filter)] =
      if (tombs.isEmpty || kept.isEmpty) Nil
      else tombs.flatMap { case (r, ts) =>
        ts.map { case (g, enc) =>
          (r, g, DelimV2.tombstoneFilter(enc, fullSchema))
        }
      }
    // bloom probes resolve ONCE per scan: (column, canonical texts)
    // for the pushed/runtime equality filters on bloomed columns
    val bloomProbes: Array[(String, Seq[String])] =
      if (blooms.isEmpty || kept.isEmpty) Array.empty
      else DelimBloom.probes(
        (pushedFilters ++ runtimeFilters).toSeq, blooms.toSet,
        c => fullSchema.fields.find(_.name == c).map(_.dataType)).toArray
    kept.flatMap { lf =>
      val f = lf.status
      val pv = lf.pvals
      val len = f.getLen
      if (len == 0) Nil
      else {
        val fileTombs: Array[Filter] =
          if (tombFilters.isEmpty) Array.empty
          else tombFilters.collect {
            // per-root application: a tombstone touches only its own
            // root's files (null root = single-root streaming batches)
            case (r, g, flt) if (r == null || r == lf.root) && lf.gen <= g =>
              flt
          }.toArray
        val partVals = partFields.map(pf =>
          pv.collectFirst { case (k, v) if k == pf.name => v }.orNull)
        val partKey =
          if (!clustered) null
          else partFields.indices.map { i =>
            DelimV2.toInternal(
              DelimV2.parseExternal(partVals(i), partFields(i).dataType),
              partFields(i).dataType)
          }.toArray
        // multiLine: quote parity is unknowable from a mid-file offset,
        // so record framing needs the whole file — ONE split per file
        // (parallelism comes from the directory's many files)
        val per = if (multiLine) len else splitBytes
        // Long counter: (len + splitBytes - 1) / splitBytes overflows Int
        // for a large file with a small splitBytes option, which would
        // silently plan ZERO splits (empty range) and drop the file
        val n = math.max(1L, (len + per - 1) / per)
        (0L until n).map { i =>
          val start = i * per
          DelimSplit(f.getPath.toString, start, math.min(per, len - start),
            len, partVals, partKey, lf.fileFields, fileTombs, bloomProbes)
        }
      }
    }.toArray[InputPartition]
  }

  /** STREAMING SOURCE: manifest GENERATIONS are the offsets — every
    * commit (batch append, streaming epoch, catalog DDL) advances the
    * generation, and a micro-batch reads exactly the files committed
    * in `(startGen, endGen]`. This is the other half of the landing-
    * directory loop the reference lives in: the connector already
    * LANDS streams (DelimWrite.toStreaming); now a downstream pipeline
    * can `readStream` the same table with exactly-once progress across
    * restarts (the checkpointed offset is a generation number, and a
    * replayed range replans the identical file set — per-generation
    * file sets are immutable under the APPEND-ONLY contract this
    * source targets; an overwrite or compaction rewrites history and
    * is the documented caveat, same as every file-stream source over
    * a mutable directory). Each batch prefers the RETAINED snapshot
    * `_manifest.v<end>` (immutable) and falls back to the current
    * manifest filtered by generation. Partition-only pushed filters
    * prune files per batch like the batch scan.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
    require(paths.size == 1,
      "graft-delim streaming read supports a single table root")
    require(DelimV2.asOfGen(options).isEmpty,
      "graft-delim streaming read cannot combine with versionAsOf/timestampAsOf")
    // ADMISSION CONTROL: `maxGensPerTrigger` caps how many committed
    // generations one micro-batch drains — the backlog-catchup governor
    // every production stream needs (a reader restarted after a long
    // outage otherwise plans the whole backlog as ONE batch)
    val maxGens = Option(options.get("maxGensPerTrigger")).map { v =>
      val n = v.trim.toLong
      require(n >= 1, s"graft-delim: maxGensPerTrigger must be >= 1, got $n")
      n
    }
    new MicroBatchStream
        with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
        with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
      private val root = new HPath(paths.head)
      private def fs = root.getFileSystem(DelimV2.driverConf())
      private val splitBytes = math.max(1L, options.getLong("splitBytes",
        SparkSession.active.sessionState.conf.filesMaxPartitionBytes))

      override def initialOffset(): Offset = DelimGenOffset(-1L)

      // MONOTONIC: a concurrent committer's pointer swap can leave a
      // sub-millisecond no-manifest window on rename-non-atomic
      // filesystems (observed on local file:// — latestOffset read -1
      // mid-append and the engine then treated it as the last
      // committed position, re-reading from the start). The generation
      // counter never decreases, so neither may the reported offset.
      private val maxSeenGen = new java.util.concurrent.atomic.AtomicLong(-1L)
      override def latestOffset(): Offset = {
        val g = DelimLog.readManifest(fs, root).map(_.gen).getOrElse(-1L)
        DelimGenOffset(maxSeenGen.accumulateAndGet(g, math.max))
      }

      override def getDefaultReadLimit
          : org.apache.spark.sql.connector.read.streaming.ReadLimit =
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

      // Trigger.AvailableNow: capture the end ONCE, then let the
      // per-batch pacing below walk toward it — without this, Spark's
      // generic wrapper would take one PACED answer as the terminal
      // offset and stop after a single batch (observed)
      private val availableEnd = new java.util.concurrent.atomic.AtomicLong(-2L)
      override def prepareForTriggerAvailableNow(): Unit =
        availableEnd.set(latestOffset().asInstanceOf[DelimGenOffset].gen)

      override def latestOffset(start: Offset,
          limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
        val latest =
          if (availableEnd.get >= -1L) availableEnd.get
          else latestOffset().asInstanceOf[DelimGenOffset].gen
        val s = start.asInstanceOf[DelimGenOffset].gen
        DelimGenOffset(maxGens match {
          case Some(n) => math.min(latest, s + n)
          case None => latest
        })
      }

      override def reportLatestOffset(): Offset = latestOffset()
      override def deserializeOffset(json: String): Offset =
        DelimGenOffset(json.trim.toLong)
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()

      override def planInputPartitions(
          start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[DelimGenOffset].gen
        val e = end.asInstanceOf[DelimGenOffset].gen
        if (e <= s) return Array.empty
        // prefer the immutable retained snapshot at `end`; else the
        // current manifest (its (s, e] entries are identical under
        // the append-only contract)
        val m = DelimLog.readManifestFile(fs,
            new HPath(root, s"${DelimLog.ManifestFile}.v$e"))
          .orElse(DelimLog.readManifest(fs, root))
          .getOrElse(return Array.empty)
        val ranged = m.copy(files = m.files.filter(f => f.gen > s && f.gen <= e))
        val preds = pushedFilters.filter(partitionOnly).map(partPredicate)
        val files = DelimV2.listedFromManifest(root, ranged)
          .filter(f => preds.forall(_(f.pvals)))
        // tombstones apply per file generation like the batch scan; a
        // delete recorded AFTER rows already streamed cannot retract
        // them (append-only contract), but replays and fresh streams
        // honor every tombstone at `end`
        // single-root by construction (streaming requires one root):
        // the null root key applies the tombstones to every file
        makeSplits(files, splitBytes,
          if (m.tombstones.isEmpty) Nil else Seq((null, m.tombstones)),
          m.bloomCols)
      }

      override def createReaderFactory(): PartitionReaderFactory = {
        val hc = DelimV2.driverConf()
        val confMap = DelimV2.shippableConf(hc)
        // row readers: micro-batches are epoch-sized, and the
        // streaming exec path is the row one
        new DelimReaderFactory(fullSchema, required,
          pushedFilters.filterNot(partitionOnly), delim, limit, confMap,
          partFields.map(_.name), Array.empty, quote, multiLine)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    if (completeAggRow != null) return new DelimConstRowReaderFactory
    // ship only the hadoop entries the executor-side FileSystem needs;
    // Configuration itself is not Serializable
    val hc = DelimV2.driverConf()
    val confMap = DelimV2.shippableConf(hc)
    if (aggCountCols > 0)
      new DelimCountReaderFactory(aggCountCols, confMap,
        if (multiLine) quote else -1)
    else {
      // partition-only and `_file`-only filters were fully applied at
      // FILE level above; re-evaluating them per row would be
      // constant-true overhead
      val rowFilters = (pushedFilters ++ runtimeFilters)
        .filterNot(partitionOnly)
        .filterNot(f => f.references.nonEmpty &&
          f.references.forall(_ == DelimV2.FileMetaCol) &&
          !fullSchema.fieldNames.contains(DelimV2.FileMetaCol))
      // VECTORIZED by default (see DelimColumnarReader), including
      // pushed TopN (a per-split heap over the parsed batches — the
      // byte-span parse is the win on ranked exports); the row reader
      // remains for non-ASCII delimiters, a TopN key outside the read
      // schema (cannot extract from the output vectors), and the
      // `columnar=false` escape hatch
      val columnar = delim < 128 &&
        topN.forall(k => required.fieldNames.contains(k.col)) &&
        java.lang.Boolean.parseBoolean(options.getOrDefault("columnar", "true"))
      // loud-failure option validation: batchSize <= 0 would make the
      // columnar reader's fill loop exit immediately and return an
      // EMPTY scan result instead of an error
      val batchSize = options.getInt("batchSize", 4096)
      require(batchSize > 0,
        s"graft-delim: batchSize must be positive, got $batchSize")
      new DelimReaderFactory(
        fullSchema, required, rowFilters, delim, limit, confMap,
        partFields.map(_.name), topN, quote, multiLine,
        columnar = columnar,
        batchSize = batchSize)
    }
  }
}

/** What one executed graft-delim scan decided, read back from the DSv2
  * driver metrics on its own `BatchScanExec` node — so concurrent
  * queries over one table each see their own numbers. Every count is
  * zero until the plan has built its input RDD (an unexecuted plan).
  */
private[graft] final case class DelimScanMetrics(
    scan: DelimScan, filesListed: Long, filesKept: Long, splits: Long,
    segmentsIndexed: Long, segmentsLoaded: Long)

private[graft] object DelimScanMetrics extends AdaptiveSparkPlanHelper {
  /** Every graft-delim scan in `df`'s executed plan, the AQE final plan
    * and subqueries included. Read after executing `df` itself: an
    * action that builds its own plan (`count()`, `head()`, `as[T]`)
    * leaves `df`'s plan unexecuted. */
  def of(df: DataFrame): Seq[DelimScanMetrics] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b @ BatchScanExec(_, scan: DelimScan, _, _, _, _) =>
        val Array(listed, kept, splits, segsIndexed, segsLoaded) =
          scan.supportedCustomMetrics().map(m => b.metrics(m.name()).value)
        DelimScanMetrics(scan, listed, kept, splits, segsIndexed, segsLoaded)
    }

  /** The one graft-delim scan in `df`'s executed plan. */
  def one(df: DataFrame): DelimScanMetrics = of(df) match {
    case Seq(m) => m
    case ms => throw new IllegalStateException(
      s"expected one graft-delim scan in the plan, found ${ms.size}")
  }
}

/** A driver-side sum metric. Spark's SQL listener re-instantiates each
  * metric class reflectively to aggregate it, so every name is its own
  * no-argument subclass. */
private[v2] abstract class DelimSumMetric(n: String, d: String)
    extends CustomSumMetric {
  override def name(): String = n
  override def description(): String = d
}
private[v2] class FilesListedMetric
    extends DelimSumMetric("filesListed", "files listed")
private[v2] class FilesKeptMetric
    extends DelimSumMetric("filesKept", "files kept")
private[v2] class SplitsPlannedMetric
    extends DelimSumMetric("splits", "splits planned")
private[v2] class SegmentsIndexedMetric
    extends DelimSumMetric("segmentsIndexed", "segments in the index")
private[v2] class SegmentsLoadedMetric
    extends DelimSumMetric("segmentsLoaded", "segments loaded")

/** Pushed-COUNT(*) readers: one output row per split carrying the
  * owned-line count (Spark's partial-agg rewrite sums them).
  */
private[v2] class DelimCountReaderFactory(nCols: Int, confMap: Map[String, String],
    framingQuote: Int = -1)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[DelimSplit]
    val conf = new Configuration(true)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    val p = new HPath(split.path)
    val in = p.getFileSystem(conf).open(p)
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (done) return false
        val lines =
          new LineSplitReader(in, split.start, split.start + split.length,
            split.fileLen, framingQuote)
        var n = 0L
        while (lines.skipLine()) n += 1
        row = new GenericInternalRow(Array.fill[Any](nCols)(n))
        done = true
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}

/** One precomputed row (complete aggregate pushdown). Values are
  * Catalyst-internal and serializable (UTF8String/Long/Int/Double).
  */
private[v2] case class DelimConstRowPartition(values: Array[Any])
    extends InputPartition

private[v2] class DelimConstRowReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val values = partition.asInstanceOf[DelimConstRowPartition].values
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow = new GenericInternalRow(values)
      override def close(): Unit = ()
    }
  }
}

private[v2] case class DelimSplit(
    path: String, start: Long, length: Long, fileLen: Long,
    partVals: Array[String] = Array.empty,
    /** Typed (internal-representation) partition values, present when
      * the scan reports key-grouped partitioning — Spark groups splits
      * by this key so a groupBy/join on the layout key plans with no
      * Exchange. */
    partKey: Array[Any] = null,
    /** The file's POSITIONAL field names (its generation's recorded
      * writer schema, non-partition fields in order) — the reader maps
      * read-schema columns to file positions BY NAME through this, so
      * files written before a column existed read it as null. Null =
      * legacy positional contract. */
    fileFields: Array[String] = null,
    /** Merge-on-read delete complements applicable to THIS file (its
      * generation is at or before each tombstone's): per-row filters
      * the readers AND into their pushed-filter evaluation. Per-split
      * because applicability is per file generation — rows written
      * after a delete must never be re-deleted. */
    tombstones: Array[Filter] = Array.empty,
    /** Pre-resolved bloom probes ((column, probe texts)) — nonEmpty
      * only when the table has bloom sidecars AND the scan pushed an
      * equality filter on a bloomed column; the reader tests
      * `<path>.bloom` before touching data bytes (DelimBloom). */
    bloomProbes: Array[(String, Seq[String])] = Array.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {

  override def partitionKey(): InternalRow =
    new GenericInternalRow(if (partKey == null) Array.empty[Any] else partKey)
}

private[v2] class DelimReaderFactory(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    delim: Char,
    limit: Int,
    confMap: Map[String, String],
    partCols: Array[String] = Array.empty,
    topN: Array[DelimSortKey] = Array.empty,
    quote: Int = -1,
    multiLine: Boolean = false,
    columnar: Boolean = false,
    batchSize: Int = 4096)
    extends PartitionReaderFactory {

  private def hconf(): Configuration = {
    // defaults load executor-side (core-default.xml ships in the jars);
    // the driver's fs.*/hadoop.* entries overlay them
    val conf = new Configuration(true)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Executor-side BLOOM gate: when the split carries probes and the
    * file's sidecar proves no equality key can match, the task never
    * opens the data bytes (DelimBloom — the footer-bloom move).
    */
  private def bloomSkips(split: DelimSplit, conf: Configuration): Boolean =
    split.bloomProbes.nonEmpty && DelimBloom.fileSkips(
      new HPath(split.path).getFileSystem(conf), new HPath(split.path),
      split.bloomProbes.toSeq)

  private def open(split: DelimSplit, conf: Configuration): FSDataInputStream = {
    val p = new HPath(split.path)
    p.getFileSystem(conf).open(p)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[DelimSplit]
    val conf = hconf()
    if (bloomSkips(split, conf))
      return new PartitionReader[InternalRow] {
        override def next(): Boolean = false
        override def get(): InternalRow = throw new NoSuchElementException
        override def close(): Unit = ()
      }
    new DelimPartitionReader(open(split, conf), split, fullSchema, required,
      filters ++ split.tombstones, delim,
      limit, partCols, topN, quote, multiLine)
  }

  override def createColumnarReader(
      partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val split = partition.asInstanceOf[DelimSplit]
    val conf = hconf()
    if (bloomSkips(split, conf))
      return new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        override def next(): Boolean = false
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          throw new NoSuchElementException
        override def close(): Unit = ()
      }
    new DelimColumnarReader(open(split, conf), split, fullSchema, required,
      filters ++ split.tombstones, delim,
      limit, partCols, quote, multiLine, batchSize, topN)
  }
}

private[v2] class DelimPartitionReader(
    in: FSDataInputStream,
    split: DelimSplit,
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    delim: Char,
    limit: Int,
    partCols: Array[String] = Array.empty,
    topN: Array[DelimSortKey] = Array.empty,
    /** Quote code point for field parsing (RFC-4180: leading quote
      * opens a quoted field, `""` escapes, delimiter is data inside),
      * or -1 for the raw legacy walk. */
    quote: Int = -1,
    /** Quote-aware record FRAMING (multiLine): quoted fields may span
      * newlines; requires whole-file splits. */
    multiLine: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val lines =
    new LineSplitReader(in, split.start, split.start + split.length, split.fileLen,
      if (multiLine) quote else -1)

  // internal field universe = data schema + the `_file` metadata
  // column (a split constant, like partition values) unless shadowed
  // by a data column of that name
  private val allFields: Array[StructField] =
    if (fullSchema.fieldNames.contains(DelimV2.FileMetaCol)) fullSchema.fields
    else fullSchema.fields :+
      StructField(DelimV2.FileMetaCol, StringType, nullable = false)
  private val idxOf: Map[String, Int] =
    allFields.map(_.name).zipWithIndex.toMap
  private val types: Array[DataType] = allFields.map(_.dataType)

  // schema-index → FILE field position: non-partition fields map
  // positionally in schema order — or BY NAME through the file's
  // generation's recorded field layout (split.fileFields), where a
  // column the file's generation never wrote has no position (-1) and
  // reads as null (schema evolution). Partition fields also carry -1 —
  // their values are split constants from the k=v directory, parsed
  // once below.
  private val partIdxSet: Set[Int] = partCols.map(idxOf).toSet
  // by-name mapping engages only when the read schema SHARES a name
  // with the file's recorded layout — a reader that renames every
  // column (the legacy positional contract: arbitrary .schema names
  // over any delimited file) keeps positional semantics instead of
  // silently reading all-null
  private val byName: Boolean = split.fileFields != null &&
    fullSchema.fieldNames.zipWithIndex.exists { case (n, i) =>
      !partIdxSet.contains(i) && split.fileFields.contains(n)
    }
  private val filePos: Array[Int] = {
    val m = new Array[Int](allFields.length)
    if (!byName) {
      var fp = 0
      var i = 0
      while (i < m.length) {
        if (partIdxSet.contains(i) || i >= fullSchema.size) m(i) = -1
        else { m(i) = fp; fp += 1 }
        i += 1
      }
    } else {
      var i = 0
      while (i < m.length) {
        m(i) =
          if (partIdxSet.contains(i) || i >= fullSchema.size) -1
          else split.fileFields.indexOf(fullSchema.fieldNames(i))
        i += 1
      }
    }
    m
  }
  // file field-position count: an OLD generation may carry MORE fields
  // than the current read schema (a later write narrowed it)
  private val nFilePos: Int =
    if (byName) split.fileFields.length else allFields.length
  // partition constants at their schema slots (typed via the same
  // parse path as file fields); the `_file` metadata slot is the
  // split's path, another per-split constant
  private val partExt: Array[Any] = {
    val ext = new Array[Any](allFields.length)
    var i = 0
    while (i < partCols.length) {
      val si = idxOf(partCols(i))
      ext(si) = DelimV2.parseExternal(split.partVals(i), types(si))
      i += 1
    }
    if (allFields.length > fullSchema.size)
      ext(allFields.length - 1) = split.path
    ext
  }

  // field indexes (into fullSchema) the parse must materialize:
  // surviving output columns ∪ pushed-filter columns ∪ pushed sort keys
  private val outputIdx: Array[Int] = required.fieldNames.map(idxOf)
  private val filterCols: Array[Int] =
    (filters.flatMap(_.references) ++ topN.map(_.col)).distinct.map(idxOf)
  // the walk bound is in FILE positions (partition fields never appear
  // in the line)
  private val maxIdx: Int = (outputIdx ++ filterCols)
    .map(filePos).foldLeft(-1)(math.max)
  // convert ONLY the fields something consumes (by file position): the
  // walk still has to step over delimiters up to maxIdx, but a skipped
  // field is never substring'd or type-parsed (measured: the
  // narrow-projection scan over a 16-field line was ~1.7× CSV with
  // parse-all, at parity with the mask)
  private val needed: Array[Boolean] = {
    val m = new Array[Boolean](nFilePos)
    (outputIdx ++ filterCols).foreach(i => if (filePos(i) >= 0) m(filePos(i)) = true)
    m
  }
  // file position → schema index (for type lookup during the walk)
  private val schemaIdxAt: Array[Int] = {
    val m = new Array[Int](nFilePos)
    var i = 0
    while (i < filePos.length) { if (filePos(i) >= 0) m(filePos(i)) = i; i += 1 }
    m
  }
  private val predicates: Array[Array[Any] => Boolean] =
    filters.map(DelimV2.compileFilter(_, idxOf, types))

  private var current: InternalRow = _
  private var emitted = 0

  /** Pushed-TopN comparator over parsed field arrays: SQL ordering
    * with explicit null placement; ties compare equal (Spark's final
    * TakeOrdered re-sorts the survivors, so per-split tie picks only
    * need to keep SOME k-best set).
    */
  private lazy val topNCmp: java.util.Comparator[Array[Any]] =
    new java.util.Comparator[Array[Any]] {
      private val keys = topN.map(k => (idxOf(k.col), k.desc, k.nullsFirst))
      override def compare(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < keys.length) {
          val (ci, desc, nullsFirst) = keys(i)
          val x = a(ci); val y = b(ci)
          val c =
            if (x == null && y == null) 0
            else if (x == null) { if (nullsFirst) -1 else 1 }
            else if (y == null) { if (nullsFirst) 1 else -1 }
            else {
              val base = DelimV2.cmp(types(ci), x, y)
              if (desc) -base else base
            }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
  private var topNDrain: java.util.Iterator[Array[Any]] = _

  /** TopN mode: drain the split through the filters into a k-bounded
    * heap (worst-on-top), then emit the survivors — memory is O(k), and
    * `LIMIT k` over a 100 TB directory ships k rows per split into the
    * final merge instead of a full-corpus sort.
    */
  private def nextTopN(): Boolean = {
    if (topNDrain == null) {
      val heap = new java.util.PriorityQueue[Array[Any]](
        math.max(1, limit), topNCmp.reversed())
      if (limit > 0) {
        var line = lines.nextLine()
        while (line != null) {
          val ext = parseLine(line)
          if (predicates.forall(_(ext))) {
            if (heap.size < limit) heap.add(ext)
            else if (topNCmp.compare(ext, heap.peek()) < 0) {
              heap.poll(); heap.add(ext)
            }
          }
          line = lines.nextLine()
        }
      }
      topNDrain = heap.iterator()
    }
    if (!topNDrain.hasNext) return false
    val ext = topNDrain.next()
    val out = new Array[Any](outputIdx.length)
    var i = 0
    while (i < outputIdx.length) {
      out(i) = DelimV2.toInternal(ext(outputIdx(i)), types(outputIdx(i)))
      i += 1
    }
    current = new GenericInternalRow(out)
    true
  }

  override def next(): Boolean = {
    if (topN.nonEmpty) return nextTopN()
    if (limit >= 0 && emitted >= limit) return false
    var line = lines.nextLine()
    while (line != null) {
      val ext = parseLine(line)
      if (predicates.forall(_(ext))) {
        val out = new Array[Any](outputIdx.length)
        var i = 0
        while (i < outputIdx.length) {
          out(i) = DelimV2.toInternal(ext(outputIdx(i)), types(outputIdx(i)))
          i += 1
        }
        current = new GenericInternalRow(out)
        emitted += 1
        return true
      }
      line = lines.nextLine()
    }
    false
  }

  /** Split + type-convert only file fields 0..maxIdx (pruned parse);
    * partition slots are pre-seeded split constants. With quoting
    * enabled the walk is quote-aware — a skipped field still steps
    * over its quoted region, but is never substring'd or unescaped.
    */
  private def parseLine(line: String): Array[Any] = {
    val ext = partExt.clone()
    var fieldStart = 0
    var fp = 0
    val n = line.length
    if (quote < 0) {
      while (fp <= maxIdx && fieldStart <= n) {
        val i = line.indexOf(delim.toInt, fieldStart)
        if (needed(fp)) {
          val si = schemaIdxAt(fp)
          val raw = if (i < 0) line.substring(fieldStart) else line.substring(fieldStart, i)
          // unquoted \N = the writer's null token (Hive convention)
          ext(si) = if (raw == "\\N") null
            else DelimV2.parseExternal(raw, types(si))
        }
        fp += 1
        fieldStart = if (i < 0) n + 1 else i + 1
      }
    } else {
      while (fp <= maxIdx && fieldStart <= n) {
        if (fieldStart < n && line.charAt(fieldStart).toInt == quote) {
          // quoted field: run to the closing quote; "" is an escaped quote
          var i = fieldStart + 1
          var esc = false
          var close = -1
          while (close < 0 && i < n) {
            if (line.charAt(i).toInt == quote) {
              if (i + 1 < n && line.charAt(i + 1).toInt == quote) { esc = true; i += 2 }
              else close = i
            } else i += 1
          }
          if (close < 0) close = n // unterminated quote: rest of record
          if (needed(fp)) {
            val si = schemaIdxAt(fp)
            val raw =
              if (!esc) line.substring(fieldStart + 1, close)
              else {
                val sb = new java.lang.StringBuilder(close - fieldStart)
                var j = fieldStart + 1
                while (j < close) {
                  val c = line.charAt(j)
                  sb.append(c)
                  j += (if (c.toInt == quote) 2 else 1) // emit one of the pair
                }
                sb.toString
              }
            ext(si) = DelimV2.parseExternal(raw, types(si))
          }
          // next delimiter after the closing quote (trailing garbage
          // before it is ignored — the lenient malformed-input stance
          // Spark's CSV parser takes by default)
          var d = close + 1
          while (d < n && line.charAt(d) != delim) d += 1
          fieldStart = if (d < n) d + 1 else n + 1
        } else {
          val i = line.indexOf(delim.toInt, fieldStart)
          if (needed(fp)) {
            val si = schemaIdxAt(fp)
            val raw =
              if (i < 0) line.substring(fieldStart) else line.substring(fieldStart, i)
            // unquoted \N = the writer's null token (Hive convention)
            ext(si) = if (raw == "\\N") null
              else DelimV2.parseExternal(raw, types(si))
          }
          fieldStart = if (i < 0) n + 1 else i + 1
        }
        fp += 1
      }
    }
    ext
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Byte-range line reader with the exactly-once split contract:
  * a split reads lines whose first byte offset is <= `end`, and a
  * split that does not start at byte 0 discards everything through
  * its first newline (the previous split owns that straddling line).
  *
  * Hot path: block-buffered — newlines are found by scanning a 64 KiB
  * byte array directly (one `read()` per block, not per byte; the
  * per-byte virtual-call version measured ~6× slower than Spark's CSV
  * reader at sf0.1, this one is at parity).
  */
private[v2] final class LineSplitReader(
    in: FSDataInputStream, start: Long, end: Long, fileLen: Long,
    /** Quote code point for QUOTE-AWARE record framing (multiLine
      * mode: a '\n' under odd quote parity is field data, not a record
      * end), or -1 for plain newline framing. Quote-aware framing is
      * only sound from byte 0 — parity is unknowable mid-file — so it
      * requires the whole-file splits multiLine plans.
      */
    quote: Int = -1) {

  require(quote < 0 || start == 0,
    "graft-delim: quote-aware framing requires a whole-file split")

  in.seek(start)
  private val buf = new Array[Byte](1 << 16)
  private var bufLen = 0 // valid bytes in buf; -1 after EOF
  private var bufPos = 0 // next unconsumed byte
  private var pos: Long = start // file offset of buf(bufPos)
  // spill for lines that straddle block boundaries (rare)
  private var spill = new Array[Byte](256)
  private var spillLen = 0

  if (start != 0) skipRaw() // discard the leading partial line

  /** Next complete line owned by this split, or null when exhausted. */
  def nextLine(): String = {
    if (!nextLineSpan()) return null
    // the span already stripped the trailing '\r' — do NOT re-strip
    // (a line ending "x\r\r\n" keeps its inner '\r')
    new String(spanBuf, spanOff, spanLen, java.nio.charset.StandardCharsets.UTF_8)
  }

  // the current line as a BYTE SPAN into spanBuf (valid until the next
  // nextLineSpan/nextLine call) — the columnar reader parses fields
  // straight from these bytes, no per-line String
  private var spanBuf: Array[Byte] = _
  private var spanOff = 0
  private var spanLen = 0

  def lineBuf: Array[Byte] = spanBuf
  def lineOff: Int = spanOff
  def lineLen: Int = spanLen

  /** Advance to the next owned line, exposing it as a byte span
    * (trailing '\r' stripped). Returns false when the split is
    * exhausted. Shares ALL framing logic (split ownership, spill,
    * quote-aware record framing) with nextLine — there is exactly one
    * implementation of the exactly-once contract.
    */
  def nextLineSpan(): Boolean = {
    if (pos > end || pos >= fileLen) return false
    readRawSpan()
  }

  /** Advance past the next owned line WITHOUT materializing it — the
    * pushed-COUNT(*) path: same ownership contract as nextLine, no
    * String, no spill. Returns false when the split is exhausted.
    */
  def skipLine(): Boolean = {
    if (pos > end || pos >= fileLen) return false
    skipRaw()
  }

  /** True iff a line (possibly empty) was consumed: hitting '\n' is
    * always a line; EOF closes a line only if bytes preceded it (an
    * unterminated final line), matching readRaw's null-at-EOF.
    */
  private def skipRaw(): Boolean = {
    var consumed = false
    var inQ = false
    while (true) {
      if (bufPos >= bufLen && !fill()) return consumed
      var i = bufPos
      if (quote < 0) {
        while (i < bufLen && buf(i) != '\n') i += 1
      } else {
        while (i < bufLen && (buf(i) != '\n' || inQ)) {
          if (buf(i) == quote) inQ = !inQ
          i += 1
        }
      }
      if (i > bufPos) consumed = true
      if (i < bufLen) {
        pos += (i - bufPos) + 1
        bufPos = i + 1
        return true
      }
      pos += bufLen - bufPos
      bufPos = bufLen
    }
    false // unreachable
  }

  private def fill(): Boolean = {
    if (bufLen < 0) return false
    bufLen = in.read(buf)
    bufPos = 0
    bufLen > 0
  }

  /** Read one line (up to '\n' or EOF) as a span (trailing '\r'
    * stripped), advance pos. Returns false at EOF with no bytes.
    */
  private def readRawSpan(): Boolean = {
    spillLen = 0
    var inQ = false
    while (true) {
      if (bufPos >= bufLen && !fill()) {
        // EOF: the spill (if any) is the final unterminated line
        if (spillLen == 0) return false
        setSpan(spill, 0, spillLen)
        return true
      }
      var i = bufPos
      if (quote < 0) {
        while (i < bufLen && buf(i) != '\n') i += 1
      } else {
        while (i < bufLen && (buf(i) != '\n' || inQ)) {
          if (buf(i) == quote) inQ = !inQ
          i += 1
        }
      }
      if (i < bufLen) { // newline at i
        if (spillLen == 0) setSpan(buf, bufPos, i - bufPos)
        else {
          appendSpill(buf, bufPos, i - bufPos)
          setSpan(spill, 0, spillLen)
        }
        pos += (i - bufPos) + 1
        bufPos = i + 1
        return true
      }
      // no newline in this block: spill and refill
      appendSpill(buf, bufPos, bufLen - bufPos)
      pos += bufLen - bufPos
      bufPos = bufLen
    }
    false // unreachable
  }

  private def setSpan(src: Array[Byte], off: Int, len: Int): Unit = {
    val n = if (len > 0 && src(off + len - 1) == '\r') len - 1 else len
    spanBuf = src
    spanOff = off
    spanLen = n
  }

  private def appendSpill(src: Array[Byte], off: Int, len: Int): Unit = {
    if (spillLen + len > spill.length) {
      val grown = new Array[Byte](math.max(spill.length * 2, spillLen + len))
      System.arraycopy(spill, 0, grown, 0, spillLen)
      spill = grown
    }
    System.arraycopy(src, off, spill, spillLen, len)
    spillLen += len
  }

}

/** Write side of the connector (K-tier as a connector instead of a
  * DataFrameWriter call): staged task commits with the commit
  * coordinator — each task writes to `_staging_<queryId>/` and returns
  * its file in the commit message; the DRIVER's job commit moves
  * exactly the committed files into place (and, for overwrite, clears
  * the old generation first), then drops the staging dir — so a
  * speculative duplicate or failed task can never leak a partial file
  * into the data directory (its stray staged file dies with staging).
  *
  * QUOTING (RFC 4180): a field containing the delimiter, the quote
  * char, '\n', or '\r' is written wrapped in quotes with embedded
  * quotes doubled — so ANY string value round-trips through the
  * format (the reference's naive `split`, compare_tables.sh:5, is the
  * corruption this fixes). A field with an embedded NEWLINE reads
  * back only under `multiLine=true` (whole-file splits; see
  * DelimV2.multiLine for the split-ownership contract). With
  * `quote=none` the legacy behavior returns: such fields are
  * unrepresentable and the writer THROWS rather than corrupt row
  * framing silently. Nulls write as empty fields (which read back as
  * null for typed columns and "" for strings — the format does not
  * distinguish an empty string from a string null).
  *
  * PARTITIONED writes: `option("partitionBy", "k1,k2")` lays the sink
  * out as the `k=v` directory tree the read side discovers — partition
  * values become directory names (formatted exactly as the reader
  * parses them; null → `__HIVE_DEFAULT_PARTITION__`) and are NOT
  * written into the line, keeping the read side's positional contract.
  * It is an option rather than `.partitionBy(...)` because Spark's V2
  * path-based save rejects writer-level partitioning for TableProvider
  * sources. Each task streams rows into one staged file per partition
  * value it sees (dynamic partitioning — callers with many values per
  * task should pre-repartition by the partition columns, same advice
  * as every dynamic-partition sink); the job commit renames each
  * staged file into its `k=v` subdirectory.
  */
private[v2] class DelimWriteBuilder(
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    options: CaseInsensitiveStringMap,
    tableSchema: StructType = new StructType())
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    val partCols = Option(options.get("partitionBy")).toSeq
      .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    val qSchema = info.schema()
    // SQL INSERT resolves BY POSITION (ACCEPT_ANY_SCHEMA hands the
    // QUERY's schema through — `INSERT ... VALUES` arrives as col1..
    // colN): when a partition column is missing from the query's
    // names but the declared table schema matches in arity, adopt the
    // table's names positionally — standard INSERT semantics
    val positionalAdopt =
      partCols.nonEmpty && tableSchema.size == qSchema.size &&
        partCols.forall(tableSchema.fieldNames.contains) &&
        !partCols.forall(qSchema.fieldNames.contains)
    val schema =
      if (positionalAdopt)
        StructType(qSchema.fields.zip(tableSchema.fields)
          .map { case (q, t) => q.copy(name = t.name) })
      else qSchema
    // the required distribution/ordering resolves against the QUERY's
    // output names (before the positional adoption above renames them
    // for the writer) — an INSERT VALUES arrives as col1..colN
    val distCols =
      if (positionalAdopt)
        partCols.map(c => qSchema.fields(tableSchema.fieldIndex(c)).name)
      else partCols
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-delim: partitionBy column $c not in the write schema " +
          s"${schema.fieldNames.mkString("[", ", ", "]")}")
    }
    require(partCols.size < schema.size,
      "graft-delim: partitionBy cannot cover every column (no data fields left)")
    val dynamic =
      options.getOrDefault("overwriteMode", "static").trim.toLowerCase match {
        case "static" => false
        case "dynamic" =>
          require(partCols.nonEmpty,
            "graft-delim: overwriteMode=dynamic needs partitionBy")
          true
        case other => throw new IllegalArgumentException(
          s"graft-delim: overwriteMode must be static or dynamic, got '$other'")
      }
    val retain = Option(options.get("retainVersions")).map { v =>
      val r = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-delim: retainVersions must be a positive int, got '$v'")
      }
      require(r >= 1, s"graft-delim: retainVersions must be >= 1, got $r")
      r
    }
    // `manifestSegmentSize=N`: segment the committed manifest once it
    // holds >= N entries (see DelimManifest.segSize) — the 100 TB
    // manifest posture. 0 disables; absent inherits the table's
    // current policy from the manifest header.
    val segSize = Option(options.get("manifestSegmentSize")).map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-delim: manifestSegmentSize must be an int >= 0, got '$v'")
      }
      require(n == 0 || n >= 2,
        s"graft-delim: manifestSegmentSize must be 0 (off) or >= 2, got $n")
      n
    }
    // SORT ORDER (`sortBy=a,b`): rows cluster by these columns before
    // the writer sees them, so each file's recorded min/max bounds are
    // TIGHT and stats skipping prunes key-range queries to the few
    // files that overlap — the Iceberg sort-order move. Unpartitioned
    // writes take a GLOBAL ordered distribution (Spark range-partitions
    // the job: files carry disjoint key ranges); partitioned writes
    // keep the partition clustering and sort within it (each partition
    // lands as one fully-sorted file per task).
    val sortBy = Option(options.get("sortBy")).toSeq
      .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    sortBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-delim: sortBy column $c not in the write schema " +
          s"${schema.fieldNames.mkString("[", ", ", "]")}")
      require(!partCols.contains(c),
        s"graft-delim: sortBy column $c is a partition column " +
          "(partition values are constant within a file)")
    }
    // `writePartitions`: pin the write's shuffle partition count (the
    // RequiresDistributionAndOrdering contract) — N sorted output
    // files regardless of AQE coalescing; 0 lets Spark decide
    val writeParts = Option(options.get("writePartitions")).map { v =>
      val n = v.trim.toInt
      require(n >= 1,
        s"graft-delim: writePartitions must be >= 1, got $n")
      n
    }.getOrElse(0)
    // `bloomFor=a,b`: per-file bloom sidecars for equality skipping
    // on columns the layout does not cluster (see DelimBloom)
    val bloomFor = Option(options.get("bloomFor")).toSeq
      .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    bloomFor.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-delim: bloomFor column $c not in the write schema")
      require(!partCols.contains(c),
        s"graft-delim: bloomFor column $c is a partition column " +
          "(partition values prune at file level already)")
    }
    new DelimWrite(schema, info.queryId(), DelimV2.paths(options).head,
      DelimV2.delimiter(options), doTruncate, partCols, dynamic,
      DelimV2.quoteChar(options), distCols, retain, sortBy = sortBy,
      writePartitions = writeParts, bloomFor = bloomFor,
      segmentSize = segSize)
  }
}

private[v2] class DelimWrite(
    schema: StructType, queryId: String, path: String, delim: Char,
    truncate: Boolean, partCols: Seq[String] = Nil,
    dynamicOverwrite: Boolean = false,
    quote: Int = -1,
    /** Query-side names of the partition columns (differ from
      * `partCols` only for the positional INSERT-VALUES adoption). */
    distColsIn: Seq[String] = Nil,
    /** Snapshot RETENTION override (`retainVersions` option): how many
      * generations' manifests + files stay readable via `versionAsOf`.
      * None inherits the table's current policy (manifest header),
      * defaulting to 1 = current generation only. */
    retainVersions: Option[Int] = None,
    /** COPY-ON-WRITE replace mode (row-level operations): at commit,
      * the thunk yields the absolute paths of the files the
      * operation's scan planned — exactly those entries leave the
      * manifest and the written rows take their place. Resolved at
      * commit time because runtime group filtering prunes the scan's
      * file set during execution. */
    replaceScanned: Option[() => Seq[String]] = None,
    /** The manifest generation the row-level operation's scan planned
      * from (None = the table had no manifest, or not a row-level
      * write). The commit validates the table is STILL at this
      * generation — the optimistic-concurrency check closing the
      * scan-to-commit window the generation-claim CAS cannot see. */
    replaceBaseGen: () => Option[Long] = () => None,
    /** Sort-order columns (`sortBy` option): rows arrive clustered by
      * these, so per-file stats bounds are tight — see
      * DelimWriteBuilder. */
    sortBy: Seq[String] = Nil,
    /** Pinned write shuffle partition count (0 = Spark decides). */
    writePartitions: Int = 0,
    /** Columns to write bloom sidecars for (DelimBloom). */
    bloomFor: Seq[String] = Nil,
    /** Manifest segmentation threshold override
      * (`manifestSegmentSize` option); None inherits the table's
      * current policy from the manifest header. */
    segmentSize: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.write._

  /** Partitioned writes CLUSTER and SORT rows by the partition columns
    * before the writer sees them — Spark plans the shuffle+sort (the
    * same move its own dynamic-partition InsertInto makes). This is
    * what bounds the writer to ONE open stream per task: without it, a
    * task writing a high-cardinality partitionBy holds one open file
    * PER VALUE and dies of fd exhaustion (measured: 1024 values × 32
    * tasks = "Too many open files" in the manifest-listing stress
    * fixture build). Flat writes require nothing.
    */
  private def distCols: Seq[String] =
    if (distColsIn.nonEmpty) distColsIn else partCols

  private def asc(c: String): org.apache.spark.sql.connector.expressions.SortOrder =
    org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (partCols.isEmpty && sortBy.nonEmpty)
      // GLOBAL sort distribution: Spark range-partitions the job, so
      // output files carry DISJOINT key ranges — maximal stats skipping
      org.apache.spark.sql.connector.distributions.Distributions.ordered(
        sortBy.map(asc).toArray)
    else if (partCols.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        distCols.map(c => org.apache.spark.sql.connector.expressions.Expressions
          .column(c).asInstanceOf[org.apache.spark.sql.connector.expressions.Expression])
          .toArray)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (partCols.isEmpty) sortBy.map(asc).toArray
    else (distCols ++ sortBy).map(asc).toArray

  override def requiredNumPartitions(): Int = writePartitions

  private def staging = new HPath(path, s"_staging_$queryId")

  override def description(): String =
    s"GraftDelimWrite $path truncate=$truncate"

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val hc = DelimV2.driverConf()
    val fs = staging.getFileSystem(hc)
    DelimLog.fastMkdirs(fs, staging)
    val confMap = DelimV2.shippableConf(hc)
    new DelimWriterFactory(schema, delim, staging.toString, confMap, partCols, quote,
      genToken = queryId.replace("-", "").take(8), bloomFor = bloomFor)
  }

  /** Job commit through [[DelimLog.commit]] (see README, "How a
    * graft-delim commit works"): this site contributes only the
    * copy-on-write base check, run before anything is promoted, and
    * its edit — which previous entries survive beside the new files.
    * A static overwrite then sweeps EVERYTHING dead, not just the files
    * the previous snapshot listed: crash-orphans from failed commits die
    * here, and emptied k=v directories are pruned so directory-identity
    * surfaces (SHOW PARTITIONS) don't keep listing partitions the
    * overwrite deleted.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = staging.getFileSystem(DelimV2.driverConf())
    val target = new HPath(path)
    val newFiles: Seq[DelimStagedFile] = messages.toSeq.flatMap {
      case DelimCommit(staged, _) => staged
      case other => throw new IllegalStateException(
        s"graft-delim: foreign commit message $other")
    }
    val newMulti = messages.exists {
      case DelimCommit(_, m) => m
      case _ => false
    }
    // previous snapshot: the manifest when present, else the legacy
    // recursive listing (first manifest-commit over a legacy layout)
    val prevM = DelimLog.snapshotManifest(fs, target, fs.getConf)
    val survivors: Seq[DelimLog.ManifestEntry] = replaceScanned match {
      case Some(thunk) =>
        // copy-on-write: drop exactly the files the operation's scan
        // read — the written rows are their replacement. VALIDATE the
        // snapshot first: a commit that landed between this operation's
        // scan and now (the window spans the whole query execution —
        // the generation-claim CAS only catches committers racing from
        // the same base) must ABORT, not be silently absorbed. Two
        // overlapping row-level ops would otherwise both succeed, the
        // second re-adding rewritten copies of rows the first already
        // replaced or deleted (duplication / resurrection).
        val base = replaceBaseGen()
        val root = fs.makeQualified(target).toUri
        val rels = thunk().map { abs =>
          root.relativize(fs.makeQualified(new HPath(abs)).toUri).getPath
        }.toSet
        val live = prevM.files.map(_.rel).toSet
        val gone = rels.filterNot(live)
        if (base.exists(_ != prevM.gen) || gone.nonEmpty) {
          fs.delete(staging, true) // nothing promoted yet
          throw new java.util.ConcurrentModificationException(
            s"graft-delim: row-level operation at $target scanned " +
              s"generation ${base.map(_.toString).getOrElse("<none>")} but " +
              s"the table is now at generation ${prevM.gen}" +
              (if (gone.nonEmpty)
                s" (${gone.size} scanned file(s) no longer listed, e.g. " +
                  s"${gone.head})" else "") +
              " — a concurrent commit landed between this operation's " +
              "scan and its commit; re-run against the new snapshot")
        }
        prevM.files.filterNot(e => rels.contains(e.rel))
      case None =>
        if (truncate && dynamicOverwrite) {
          // replace ONLY the partitions this job wrote (INSERT OVERWRITE
          // ... PARTITION nightly-load semantics)
          val replaced = newFiles.map(_.subdir).filter(_.nonEmpty).toSet
          prevM.files.filterNot(e =>
            replaced.exists(sd => e.rel.startsWith(sd + "/")))
        } else if (truncate) Nil
        else prevM.files
    }
    val staticOverwrite = truncate && !dynamicOverwrite
    val live = DelimLog.commit(fs, target, prevM, newFiles, Some(staging)) {
      (newGen, newEntries) =>
        val newSet = newEntries.map(_.rel).toSet
        prevM.copy(
          files = survivors.filterNot(e => newSet.contains(e.rel)) ++ newEntries,
          // the multiline flag follows the LIVE files: a static overwrite
          // carries only the new generation's evidence, append/dynamic OR
          // in the previous flag (conservative — framing stays correct,
          // only split parallelism is traded)
          multiLine = newMulti || (survivors.nonEmpty && prevM.multiLine),
          retain = retainVersions.getOrElse(prevM.retain),
          schemas = prevM.schemas + (newGen -> DelimLog.ManifestSchema(partCols,
            DelimV2.assignFieldIds(schema, prevM.schemas))),
          // a static overwrite starts the bloom-column list fresh (the
          // old generation's sidecars die with its files)
          bloomCols =
            if (staticOverwrite) bloomFor.distinct
            else (prevM.bloomCols ++ bloomFor).distinct,
          segSize = segmentSize.getOrElse(prevM.segSize))
    }
    if (staticOverwrite) DelimLog.sweepDead(fs, target, live)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = staging.getFileSystem(DelimV2.driverConf())
    fs.delete(staging, true)
  }

  /** STREAMING sink form (`writeStream.format("graft-delim")`): each
    * epoch commits like a small batch job — staged files promoted
    * under DETERMINISTIC (epoch, partition)-keyed final names, so a
    * REPLAYED epoch (failure after the work, before the checkpoint
    * commit) overwrites its own files instead of duplicating rows:
    * at-least-once execution, exactly-once LANDED bytes. Append output
    * mode only (an overwrite-per-epoch stream is `complete` mode,
    * which this landing-directory sink deliberately rejects); the
    * staging directory is shared by all epochs and stays for the
    * stream's life — underscore-prefixed, invisible to reads.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      require(!truncate,
        "graft-delim streaming sink supports APPEND output mode only")

      // stream (re)start: roll forward an orphan generation claim left
      // by an epoch that crashed between its claim and the pointer
      // swap — the stream is the table's single writer, so completing
      // its own dead commit here is exactly the recovery the claim
      // protocol documents (without it the next epoch's claim would
      // collide forever)
      DelimLog.recoverManifest(
        staging.getFileSystem(DelimV2.driverConf()), new HPath(path))

      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
        val hc = DelimV2.driverConf()
        DelimLog.fastMkdirs(staging.getFileSystem(hc), staging)
        val confMap = DelimV2.shippableConf(hc)
        val stagingDir = staging.toString
        val s = schema; val d = delim; val pc = partCols; val q = quote
        (partitionId: Int, taskId: Long, epochId: Long) =>
          new DelimDataWriter(stagingDir,
            f"part-$epochId-$partitionId%05d-$taskId",
            s, d, confMap, pc,
            finalStem = f"part-$epochId-$partitionId%05d",
            quote = q)
      }

      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit = {
        val fs = staging.getFileSystem(DelimV2.driverConf())
        val target = new HPath(path)
        val prevM = DelimLog.snapshotManifest(fs, target, fs.getConf)
        // the epoch promotes its OWN files, outside the commit's
        // rollback: a REPLAYED epoch's (epoch, partition) final names
        // may be files an earlier committed attempt already listed, and
        // a lost claim must never delete those
        val staged = messages.toSeq.flatMap {
          case DelimCommit(st, _) => st
          case _ => Nil
        }
        val epochEntries = DelimLog.promote(fs, target, staged, prevM.gen + 1)
        val newMulti = messages.exists {
          case DelimCommit(_, m) => m
          case _ => false
        }
        // manifest append, deduped by path: a replayed epoch's entries
        // REPLACE rather than duplicate — the manifest stays
        // exactly-once like the landed bytes
        val newSet = epochEntries.map(_.rel).toSet
        DelimLog.commit(fs, target, prevM) { (newGen, _) =>
          prevM.copy(
            files = prevM.files.filterNot(e => newSet.contains(e.rel)) ++ epochEntries,
            multiLine = prevM.multiLine || newMulti,
            retain = retainVersions.getOrElse(prevM.retain),
            schemas = prevM.schemas + (newGen -> DelimLog.ManifestSchema(partCols,
              DelimV2.assignFieldIds(schema, prevM.schemas))),
            // the sink's own manifestSegmentSize option must ENGAGE the
            // policy too (a fresh landing directory fed by a stream
            // would otherwise never segment)
            segSize = segmentSize.getOrElse(prevM.segSize))
        }
      }

      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit = {
        val fs = staging.getFileSystem(DelimV2.driverConf())
        messages.foreach {
          case DelimCommit(staged, _) =>
            staged.foreach(sf => fs.delete(new HPath(sf.path), false))
          case _ => ()
        }
      }
    }
}

/** One staged file: its k=v subdirectory (empty for a flat write), the
  * staged path (unique per task ATTEMPT — retries never collide), the
  * DETERMINISTIC final name (streaming epochs key it by
  * (epoch, partition) so a replayed epoch overwrites its own files
  * instead of duplicating them; batch names carry a generation token
  * so successive generations coexist until the manifest swap), and the
  * byte length (recorded into the manifest so readers never stat the
  * data files).
  */
private[v2] case class DelimStagedFile(
    subdir: String, path: String, finalName: String, length: Long = -1L,
    /** Encoded per-file column stats (DelimV2.encodeStats) — the
      * data-skipping index recorded while the rows streamed through
      * the writer; empty = none. */
    stats: String = "",
    /** True = a bloom SIDECAR: promoted beside its data file but
      * never listed in the manifest (see DelimBloom). */
    sidecar: Boolean = false)

/** One task's staged output, one entry per partition value it saw,
  * plus whether any written field embedded a newline (drives the
  * manifest's multiline flag → automatic reader framing). */
private[v2] case class DelimCommit(
    staged: Seq[DelimStagedFile], multiLine: Boolean = false)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[v2] class DelimWriterFactory(
    schema: StructType, delim: Char, stagingDir: String,
    confMap: Map[String, String], partCols: Seq[String] = Nil,
    quote: Int = -1,
    /** Short per-job generation token baked into the final names so
      * two generations of a table NEVER share a file name — the
      * manifest-swap commit promotes the new generation alongside the
      * old one before flipping visibility, which is only sound if the
      * promote cannot overwrite live old-generation bytes. */
    genToken: String = "",
    bloomFor: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    // taskId in the staged names keeps retries/speculation
    // collision-free; the commit coordinator guarantees only one of
    // them reaches commit()
    val tok = if (genToken.isEmpty) "" else s"-$genToken"
    new DelimDataWriter(stagingDir, f"part-$partitionId%05d-$taskId$tok",
      schema, delim, confMap, partCols, quote = quote,
      singleOpenStream = partCols.nonEmpty, bloomFor = bloomFor)
  }
}

private[v2] class DelimDataWriter(
    stagingDir: String,
    fileStem: String,
    schema: StructType,
    delim: Char,
    confMap: Map[String, String],
    partCols: Seq[String] = Nil,
    /** Deterministic final-name stem; defaults to the staged stem
      * (batch). Streaming epochs pass (epoch, partition) so replays
      * promote onto the same names.
      */
    finalStem: String = null,
    /** Quote code point for RFC-4180 quoting of fields containing the
      * delimiter/quote/newline, or -1 (legacy: such fields throw). */
    quote: Int = -1,
    /** Batch partitioned writes arrive CLUSTERED+SORTED by partition
      * columns (DelimWrite.requiredDistribution/Ordering), so the
      * writer keeps ONE stream open and closes it on every subdir
      * transition — the fd bound that lets a task own thousands of
      * partition values. Streaming epochs (where the ordering is not
      * guaranteed) keep the open-map behavior. */
    singleOpenStream: Boolean = false,
    /** Columns to build per-file bloom SIDECARS for (DelimBloom):
      * equality skipping on unclustered keys. */
    bloomFor: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val finStem = Option(finalStem).getOrElse(fileStem)

  private def conf(): Configuration = {
    // defaults load executor-side; the driver's fs.*/hadoop.* overlay
    val c = new Configuration(true)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private val types = schema.fields.map(_.dataType)
  private val partIdx: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val isPart: Array[Boolean] = {
    val m = new Array[Boolean](schema.size)
    partIdx.foreach(m(_) = true)
    m
  }
  private val sb = new java.lang.StringBuilder(128)
  // one staged stream per partition value this task sees (a flat write
  // uses the single "" key); values-per-task is the caller's dynamic-
  // partitioning discipline, as with every such sink
  private val streams =
    scala.collection.mutable.LinkedHashMap.empty[String, java.io.OutputStream]
  private val staged =
    scala.collection.mutable.ArrayBuffer.empty[DelimStagedFile]
  // bytes written per subdir stream — reported in the commit message so
  // the job commit can write manifest lengths without statting files
  private val written =
    scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  // any quoted newline written → the committed manifest flags the table
  // multiline and readers frame whole-file automatically
  private var sawNewline = false

  /** Per-column min/max/null tracking for one staged file — the
    * data-skipping stats recorded into the manifest. A column the
    * tracker cannot bound soundly (NaN doubles break ordering;
    * >64-char strings would need truncation, and a truncated MAX is
    * not an upper bound) is invalidated for the file — absence means
    * "cannot skip", never wrongness.
    */
  private final class ColTracker(val dt: DataType) {
    var nulls = 0L
    var valid = true
    var any = false
    var lmin = Long.MaxValue; var lmax = Long.MinValue
    var dmin = Double.PositiveInfinity; var dmax = Double.NegativeInfinity
    var smin: String = null; var smax: String = null
    /** Per-file NDV sketch over the written text (DelimNdv): the CBO
      * join-ordering signal. 256 one-byte registers per tracked
      * column — memory only; the manifest records the ESTIMATE (one
      * long per column), never the sketch. */
    val ndv = new DelimNdv
    def seenLong(v: Long): Unit = {
      any = true
      if (v < lmin) lmin = v
      if (v > lmax) lmax = v
    }
    def seenDouble(v0: Double): Unit = {
      if (java.lang.Double.isNaN(v0)) { valid = false; return }
      val v = if (v0 == 0.0d) 0.0d else v0 // -0.0 == 0.0 (reader rule)
      any = true
      if (v < dmin) dmin = v
      if (v > dmax) dmax = v
    }
    def seenString(v: String): Unit = {
      if (v.length > 64) { valid = false; return }
      any = true
      if (smin == null || DelimV2.cmpCodePoints(v, smin) < 0) smin = v
      if (smax == null || DelimV2.cmpCodePoints(v, smax) > 0) smax = v
    }
    /** (minText, maxText) in the same text forms parseExternal reads. */
    def bounds: (String, String) =
      if (!any) (null, null)
      else dt match {
        case IntegerType | LongType => (lmin.toString, lmax.toString)
        case DateType =>
          (LocalDate.ofEpochDay(lmin).toString, LocalDate.ofEpochDay(lmax).toString)
        case TimestampType =>
          (DelimV2.microsToText(lmin), DelimV2.microsToText(lmax))
        case DoubleType => (dmin.toString, dmax.toString)
        case StringType => (smin, smax)
        case _ => (null, null)
      }
  }
  // trackable (non-partition, pushable-typed) schema indices
  private val trackedIdx: Array[Int] =
    types.indices.filter(i => !isPart(i) && DelimV2.pushableType(types(i))).toArray
  private final class SubStats(val trackers: Array[ColTracker]) { var rows = 0L }
  // bloom sidecar builders: schema index -> probe position (-1 = none)
  private val bloomSchemaIdx: Array[Int] = bloomFor.distinct
    .filter(c => schema.fieldNames.contains(c) && !partCols.contains(c))
    .map(schema.fieldIndex).toArray
  private val bloomPosOf: Array[Int] = {
    val m = Array.fill(schema.size)(-1)
    bloomSchemaIdx.zipWithIndex.foreach { case (si, j) => m(si) = j }
    m
  }
  private val bloomsBySub =
    scala.collection.mutable.HashMap.empty[String, Array[DelimBloom.Builder]]
  private def bloomsFor(sub: String): Array[DelimBloom.Builder] =
    bloomsBySub.getOrElseUpdate(sub,
      bloomSchemaIdx.map(_ => new DelimBloom.Builder))
  private val statsBySub =
    scala.collection.mutable.HashMap.empty[String, SubStats]
  // rows arrive clustered by partition value (flat writes have ONE
  // value), so the current sub's stats are cached — no per-row map op
  private var curSub: String = null
  private var curStats: SubStats = _
  private def statsFor(sub: String): SubStats = {
    if (curStats == null || sub != curSub) {
      curStats = statsBySub.getOrElseUpdate(sub,
        new SubStats(trackedIdx.map(i => new ColTracker(types(i)))))
      curSub = sub
    }
    curStats
  }

  private def encodedStats(sub: String): String =
    statsBySub.get(sub) match {
      case None => ""
      case Some(ss) =>
        val cols = trackedIdx.indices.flatMap { j =>
          val t = ss.trackers(j)
          if (!t.valid) None
          else {
            val (mn, mx) = t.bounds
            Some((schema.fieldNames(trackedIdx(j)), mn, mx, t.nulls,
              t.ndv.estimate))
          }
        }
        DelimV2.encodeStatsNdv(ss.rows, cols)
    }

  private def fieldString(row: InternalRow, i: Int): String = types(i) match {
    case StringType => row.getUTF8String(i).toString
    case IntegerType => row.getInt(i).toString
    case LongType => row.getLong(i).toString
    case DoubleType => row.getDouble(i).toString
    case DateType => LocalDate.ofEpochDay(row.getInt(i).toLong).toString
    case TimestampType => DelimV2.microsToText(row.getLong(i))
    case other =>
      throw new IllegalArgumentException(s"graft-delim: unsupported write type $other")
  }

  /** `k=v/k2=v2` subdirectory for the row (formatted exactly as the
    * reader parses it back; null → the Hive default-partition token;
    * separators in a value would corrupt the LAYOUT, so they throw
    * like the delimiter guard does for line fields).
    */
  private def partSubdir(row: InternalRow): String =
    partIdx.zipWithIndex.map { case (si, i) =>
      val v =
        if (row.isNullAt(si)) DelimV2.HiveDefaultPartition
        else fieldString(row, si)
      if (v.exists(c => c == '/' || c == '=' || c == '\n' || c == '\r'))
        throw new IllegalArgumentException(
          s"graft-delim: partition value '$v' (column ${partCols(i)}) " +
            "contains a path separator or '='")
      s"${partCols(i)}=$v"
    }.mkString("/")

  private val closedSubs = scala.collection.mutable.HashSet.empty[String]

  private def streamFor(subdir: String): java.io.OutputStream =
    streams.getOrElse(subdir, {
      if (closedSubs.contains(subdir))
        throw new IllegalStateException(
          "graft-delim: partition value revisited after its stream " +
            "closed — batch partitioned rows must arrive clustered by " +
            "the partition columns (the write plans that ordering)")
      if (singleOpenStream)
        streams.keys.toList.foreach { k =>
          streams.remove(k).foreach(_.close())
          closedSubs += k
        }
      // the ordinal keeps STAGED names unique across this task's
      // partition values (they share one flat staging dir); the FINAL
      // name needs no suffix — it lands inside the k=v subdir, where
      // finStem (partitionId+taskId for batch, epoch+partition for
      // streaming epochs) is already unique — so a replayed epoch
      // promotes onto identical names no matter what order its rows
      // (and hence partition values) arrive in
      val suffix = if (subdir.isEmpty) "" else f"-p${staged.size}%04d"
      val file = new HPath(stagingDir, s"$fileStem$suffix.txt")
      staged += DelimStagedFile(subdir, file.toString, s"$finStem.txt")
      val out = new java.io.BufferedOutputStream(
        DelimLog.fastCreate(file.getFileSystem(conf()), file, overwrite = true),
        1 << 16)
      streams(subdir) = out
      out
    })

  /** Row-level (copy-on-write) carry-over rows arrive through the
    * two-arg form with their `_file` metadata projected alongside; the
    * landed bytes don't depend on where a row came from.
    */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val sub = if (partIdx.isEmpty) "" else partSubdir(row)
    // stats tracking rides the serialization walk (strings reuse the
    // materialized value; numerics re-read the primitive slot, no alloc)
    val subStats = statsFor(sub)
    val tr = subStats.trackers
    subStats.rows += 1
    var tj = 0
    sb.setLength(0)
    var first = true
    var i = 0
    while (i < types.length) {
      val tracked = tj < trackedIdx.length && trackedIdx(tj) == i
      if (!isPart(i)) { // partition values live in the directory name
        if (!first) sb.append(delim)
        first = false
        if (row.isNullAt(i)) {
          // Hive's delimited-text null token: an empty field is
          // indistinguishable from an empty STRING, so nulls must
          // carry a marker to survive a write→read round trip (the
          // CoW rewrite of a schema-evolved table materializes the
          // added column's nulls). Readers decode an UNQUOTED \N as
          // null for every type; a quoted "\N" stays literal.
          sb.append('\\').append('N')
          if (tracked && tr(tj).valid) tr(tj).nulls += 1
        } else {
          val s = fieldString(row, i)
          if (bloomSchemaIdx.nonEmpty && bloomPosOf(i) >= 0)
            // hash the PROBE-side canonical text: equality probes
            // normalize -0.0 to 0.0 (normValue) before externalToText,
            // so a file whose only match is -0.0 must not bloom-skip
            // a pushed `col = 0.0`
            bloomsFor(sub)(bloomPosOf(i)).add(
              if (types(i) == DoubleType && s == "-0.0") "0.0" else s)
          if (tracked) {
            tr(tj).ndv.add(s) // distinct-count sketch over written text
            if (tr(tj).valid) types(i) match {
              case LongType | TimestampType => tr(tj).seenLong(row.getLong(i))
              case IntegerType => tr(tj).seenLong(row.getInt(i).toLong)
              case DateType => tr(tj).seenLong(row.getInt(i).toLong)
              case DoubleType => tr(tj).seenDouble(row.getDouble(i))
              case StringType => tr(tj).seenString(s)
              case _ => tr(tj).valid = false
            }
          }
          // a literal two-character "\N" string must be QUOTED on the
          // way out: readers decode an unquoted \N as the null token,
          // so an unquoted write would corrupt the value to NULL on
          // the round trip (a quoted "\N" stays literal by contract)
          val needsQ = s.indexOf(delim.toInt) >= 0 || s.indexOf('\n') >= 0 ||
            s.indexOf('\r') >= 0 || (quote >= 0 && s.indexOf(quote) >= 0) ||
            (s.length == 2 && s.charAt(0) == '\\' && s.charAt(1) == 'N')
          if (!needsQ) sb.append(s)
          else if (quote < 0)
            throw new IllegalArgumentException(
              s"graft-delim: field value contains delimiter, newline, " +
                s"or the \\N null token (column ${schema.fieldNames(i)}) " +
                "and quoting is disabled (quote=none)")
          else {
            // RFC 4180: wrap in quotes, double embedded quotes. An
            // embedded newline flags the commit so the manifest marks
            // the table multiline and READERS auto-engage whole-file
            // framing (the documented split-ownership contract; without
            // the flag a default read would misframe silently).
            if (s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0) sawNewline = true
            sb.append(quote.toChar)
            var j = 0
            while (j < s.length) {
              val c = s.charAt(j)
              sb.append(c)
              if (c.toInt == quote) sb.append(c)
              j += 1
            }
            sb.append(quote.toChar)
          }
        }
      }
      if (tracked) tj += 1
      i += 1
    }
    sb.append('\n')
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    streamFor(sub).write(bytes)
    written(sub) += bytes.length
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    streams.values.foreach(_.close())
    // an empty flat task still stages its (empty) file lazily never —
    // emit the single flat file only if it was opened; partitioned
    // tasks stage only the values they saw
    val dataStaged = staged.toSeq.map(sf => sf.copy(
      length = written(sf.subdir), stats = encodedStats(sf.subdir)))
    // bloom sidecars: one per staged data file, staged beside it and
    // promoted to `<finalName>.bloom` (never a manifest entry)
    val sidecars =
      if (bloomSchemaIdx.isEmpty) Nil
      else {
        val c = conf()
        dataStaged.flatMap { sf =>
          bloomsBySub.get(sf.subdir).map { builders =>
            val bytes = DelimBloom.serialize(
              bloomSchemaIdx.zip(builders).map { case (si, b) =>
                (schema.fieldNames(si), b.bits)
              })
            val side = new HPath(sf.path + DelimBloom.Suffix)
            val out = DelimLog.fastCreate(side.getFileSystem(c), side, overwrite = true)
            try out.write(bytes) finally out.close()
            DelimStagedFile(sf.subdir, side.toString,
              sf.finalName + DelimBloom.Suffix, bytes.length.toLong,
              sidecar = true)
          }
        }
      }
    DelimCommit(dataStaged ++ sidecars, sawNewline)
  }

  override def abort(): Unit = {
    streams.values.foreach(s => try s.close() catch { case _: Throwable => () })
    val c = conf()
    staged.foreach { sf =>
      val p = new HPath(sf.path)
      p.getFileSystem(c).delete(p, false)
    }
  }

  override def close(): Unit = ()
}

private[graft] object DelimV2 {

  def delimiter(options: CaseInsensitiveStringMap): Char = {
    val d = options.getOrDefault("delimiter", "|")
    require(d.length == 1, s"graft-delim: delimiter must be one char, got '$d'")
    d.charAt(0)
  }

  /** RFC-4180-style quote character, honored by BOTH the parser (a
    * field starting with the quote runs to its closing quote; `""`
    * inside is an escaped quote; the delimiter is data inside quotes)
    * and the writer (a field containing the delimiter, the quote,
    * '\n', or '\r' is written quoted with doubled quotes — the
    * reference's naive `split` on such data is the corruption this
    * format exists to fix). `quote=none` (or empty) disables quoting:
    * the legacy raw format where such fields are unrepresentable and
    * the writer throws. Returns the quote code point, or -1.
    */
  def quoteChar(options: CaseInsensitiveStringMap): Int = {
    val q = options.getOrDefault("quote", "\"")
    if (q.isEmpty || q.equalsIgnoreCase("none")) -1
    else {
      require(q.length == 1, s"graft-delim: quote must be one char or 'none', got '$q'")
      require(q.charAt(0) != delimiter(options),
        "graft-delim: quote and delimiter must differ")
      // framing scans raw UTF-8 bytes: the quote must be one byte
      require(q.charAt(0) < 128, "graft-delim: quote must be ASCII")
      q.charAt(0).toInt
    }
  }

  /** SPLIT-OWNERSHIP CONTRACT for quoted newlines: with the default
    * `multiLine=false`, records are framed by newlines REGARDLESS of
    * quotes — byte-range splits stay valid, and a file whose quoted
    * fields embed newlines is simply not readable in this mode (same
    * contract as Spark's CSV source). `multiLine=true` plans ONE split
    * per file and frames records quote-aware (a '\n' inside an open
    * quote is field data), trading intra-file split parallelism for
    * full RFC 4180 — at 100 TB the parallelism lives across the many
    * files of the directory, so the trade is per-file only.
    */
  def multiLine(options: CaseInsensitiveStringMap): Boolean = {
    val m = java.lang.Boolean.parseBoolean(options.getOrDefault("multiLine", "false"))
    require(!m || quoteChar(options) >= 0,
      "graft-delim: multiLine requires quoting enabled")
    m
  }

  /** Quote-aware field count of one record (parity walk; used by
    * schema inference). Falls back to a plain delimiter count with
    * quoting disabled.
    */
  def countFields(line: String, delim: Char, quote: Int): Int = {
    if (quote < 0) return line.count(_ == delim) + 1
    var n = 1; var i = 0; var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (c.toInt == quote) inQ = !inQ
      else if (c == delim && !inQ) n += 1
      i += 1
    }
    n
  }

  /** TIME TRAVEL: `option("versionAsOf", <gen>)` plans the read from
    * the retained snapshot `_manifest.v<gen>` instead of the current
    * pointer — any generation inside the table's retention window
    * (`retainVersions` write option) is readable while later
    * generations are live.
    */
  def versionAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map { v =>
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-delim: versionAsOf must be a generation number, got '$v'")
      }
    }

  /** `timestampAsOf` option → epoch millis. Accepts epoch millis
    * digits, an ISO-8601 instant (`2026-08-16T01:00:00Z`), an ISO
    * local date-time (UTC assumed — the session convention), or a
    * bare date (midnight UTC).
    */
  def timestampAsOfMillis(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("timestampAsOf")).map { raw =>
      val v = raw.trim
      try {
        if (v.matches("-?\\d+")) v.toLong
        else if (v.contains("T") || v.contains(" ")) {
          val iso = v.replace(' ', 'T')
          try java.time.Instant.parse(iso).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDateTime.parse(iso)
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          }
        } else
          java.time.LocalDate.parse(v).atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.toEpochMilli
      } catch {
        case _: java.time.format.DateTimeParseException |
            _: NumberFormatException =>
          throw new IllegalArgumentException(
            "graft-delim: timestampAsOf must be epoch millis or an " +
              s"ISO timestamp/date, got '$raw'")
      }
    }

  /** The generation a read is pinned to — `versionAsOf` directly,
    * `tagAsOf` resolved through the current manifest's tag map (a
    * NAMED pinned snapshot — see DelimManifest.tags), or
    * `timestampAsOf` resolved against the retained snapshots' recorded
    * commit times (the NEWEST generation committed at or before the
    * given instant — the Iceberg/Delta time-travel rule). The options
    * are mutually exclusive; an unknown tag or a timestamp older than
    * every retained snapshot fails loudly with what IS available.
    */
  def asOfGen(options: CaseInsensitiveStringMap): Option[Long] = {
    val v = versionAsOf(options)
    val t = timestampAsOfMillis(options)
    val tag = Option(options.get("tagAsOf")).map(_.trim).filter(_.nonEmpty)
    require(Seq(v, t, tag).count(_.isDefined) <= 1,
      "graft-delim: versionAsOf, timestampAsOf and tagAsOf are " +
        "mutually exclusive")
    tag.foreach { name =>
      val root = new HPath(paths(options).head)
      val fs = root.getFileSystem(driverConf())
      val m = DelimLog.readManifest(fs, root).getOrElse(
        throw new IllegalArgumentException(
          s"graft-delim: tagAsOf requires a manifest-bearing table, " +
            s"$root has none"))
      return Some(m.tags.getOrElse(name,
        throw new IllegalArgumentException(
          s"graft-delim: no snapshot tag '$name' on $root (tags: " +
            s"${if (m.tags.isEmpty) "<none>"
            else m.tags.keys.toSeq.sorted.mkString(", ")})")))
    }
    v.orElse(t.map { ts =>
      val root = new HPath(paths(options).head)
      val fs = root.getFileSystem(driverConf())
      val candidates = DelimLog.retainedVersions(fs, root).flatMap { g =>
        DelimLog.readManifestFile(fs, new HPath(root, s"${DelimLog.ManifestFile}.v$g"))
          .map(m => (g, m.ts))
      }
      if (candidates.isEmpty)
        throw new IllegalArgumentException(
          s"graft-delim: timestampAsOf requires a manifest-bearing table, " +
            s"and ${root} retains no versioned snapshots")
      candidates.filter(_._2 <= ts).map(_._1).maxOption.getOrElse {
        throw new IllegalArgumentException(
          s"graft-delim: timestampAsOf=$ts predates every retained " +
            s"snapshot of $root (earliest retained commit: " +
            s"${candidates.map(_._2).min})")
      }
    })
  }

  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap(_.split(",").map(_.trim))
    val all = (single ++ multi).filter(_.nonEmpty)
    require(all.nonEmpty, "graft-delim: no path given")
    all
  }

  def driverConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** The fs./hadoop. entries executor tasks rebuild a Configuration
    * from (defaults load executor-side; these overlay them) — ONE
    * definition for every task-shipping site. */
  private[v2] def shippableConf(conf: Configuration): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter { case (k, _) => k.startsWith("fs.") || k.startsWith("hadoop.") }
      .toMap
  }

  /** Hive's null-partition directory token. */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** One `k=v` partition path segment as (k, v) — the one parser of the
    * layout (listing, manifest entries, compaction, partition DDL):
    * [[HiveDefaultPartition]] decodes to a null value, and a segment
    * not in k=v form is None. */
  private[graft] def partSegment(seg: String): Option[(String, String)] = {
    val eq = seg.indexOf('=')
    if (eq <= 0) None
    else {
      val v = seg.substring(eq + 1)
      Some(seg.substring(0, eq) -> (if (v == HiveDefaultPartition) null else v))
    }
  }

  /** The `k=v` pairs of a root-relative DIRECTORY path, in path order. */
  private[graft] def partValues(dir: String): Seq[(String, String)] =
    if (dir.isEmpty) Nil else dir.split('/').toSeq.flatMap(partSegment)

  /** Name of the `_file` metadata column (see DelimTable.metadataColumns). */
  val FileMetaCol = "_file"

  /** Decoded per-file statistics: row count plus, per column, the
    * EXTERNAL-typed min/max (null min = the column is all-null in this
    * file) and null count. A column a writer could not bound (NaN
    * doubles, >64-char strings) is simply absent — absence always
    * means "cannot skip".
    */
  private[graft] final case class FileColStats(min: Any, max: Any, nulls: Long,
      /** Approximate distinct count recorded by the writer (DelimNdv);
        * -1 = not recorded (legacy stats). */
      ndv: Long = -1L)
  private[graft] final case class FileStats(
      rows: Long, cols: Map[String, FileColStats])

  // stats text encoding: `rows=N;<col>:<nulls>:<min>:<max>;...` with
  // %-escaping of the separator characters; "%n" spells a null bound
  // (all-null column) min/max
  private[v2] def statEsc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach {
      case '%' => sb.append("%25")
      case ';' => sb.append("%3B")
      case ':' => sb.append("%3A")
      case '\t' => sb.append("%09")
      case '\n' => sb.append("%0A")
      case '\r' => sb.append("%0D")
      case c => sb.append(c)
    }
    sb.toString
  }
  private[v2] def statUnesc(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  private val StatNull = "%n" // impossible escaper output: every real '%' encodes as %25

  private[graft] def encodeStats(rows: Long,
      cols: Seq[(String, String, String, Long)]): String =
    encodeStatsNdv(rows, cols.map(c => (c._1, c._2, c._3, c._4, -1L)))

  private[graft] def encodeStatsNdv(rows: Long,
      cols: Seq[(String, String, String, Long, Long)]): String = {
    // (col, minText, maxText, nulls, ndv); minText null = all-null
    // column; ndv -1 = not recorded (omitted — format-compatible with
    // pre-NDV readers, which split on exactly 4 fields)
    val sb = new java.lang.StringBuilder(32 + cols.size * 24)
    sb.append(s"rows=$rows")
    cols.foreach { case (c, mn, mx, nulls, ndv) =>
      sb.append(';').append(statEsc(c)).append(':').append(nulls).append(':')
        .append(Option(mn).map(statEsc).getOrElse(StatNull)).append(':')
        .append(Option(mx).map(statEsc).getOrElse(StatNull))
      if (ndv >= 0L) sb.append(':').append(ndv)
    }
    sb.toString
  }

  /** Decode an entry's stats with its generation's writer schema (the
    * values parse by the column's recorded type). Malformed or
    * schema-less stats decode to None — "cannot skip", never an error.
    */
  private[graft] def decodeStats(
      encoded: String, schema: Option[DelimLog.ManifestSchema]): Option[FileStats] = {
    if (encoded == null || encoded.isEmpty || schema.isEmpty) return None
    val st = schema.get.struct
    try {
      val parts = encoded.split(';')
      if (!parts(0).startsWith("rows=")) return None
      val rows = parts(0).stripPrefix("rows=").toLong
      val cols = parts.iterator.drop(1).flatMap { p =>
        val f = p.split(':')
        if (f.length != 4 && f.length != 5) None
        else {
          val name = statUnesc(f(0))
          if (!st.fieldNames.contains(name)) None
          else {
            val dt = st(name).dataType
            Some(name -> FileColStats(
              if (f(2) == StatNull) null else parseExternal(statUnesc(f(2)), dt),
              if (f(3) == StatNull) null else parseExternal(statUnesc(f(3)), dt),
              f(1).toLong,
              if (f.length == 5) f(4).toLong else -1L))
          }
        }
      }.toMap
      Some(FileStats(rows, cols))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Conservative data-skipping predicate, COMPILED ONCE per filter
    * (literal normalization — including a runtime DPP `In`'s thousands
    * of keys — must not re-run per file: O(files × keys) planning is
    * the inverse of the win): returns false ONLY when a file's stats
    * prove no row can satisfy the filter. `typeOf` resolves the read
    * schema's column types.
    */
  /** Does a decoded stats bound carry the runtime representation the
    * read schema's type compares with? Stats decode by the WRITER
    * generation's recorded type; a path-based read may declare the
    * same column with a DIFFERENT type (written LONG, read with
    * .schema("id STRING")), and cmp's hard casts would then throw
    * ClassCastException at planning. A mismatched bound simply means
    * "no usable stats" — cannot skip, never an error.
    */
  private[v2] def statValueMatches(dt: DataType, v: Any): Boolean = v match {
    case null => true
    case _: String => dt == StringType
    case _: Int => dt == IntegerType
    case _: Long => dt == LongType || dt == DateType || dt == TimestampType
    case _: Double => dt == DoubleType
    case _ => false
  }

  private[graft] def compileStatsPredicate(
      f: Filter, typeOf: String => Option[DataType]): FileStats => Boolean = {
    def bounded(c: String)(test: (Any, Any, DataType) => Boolean)
        : FileStats => Boolean = typeOf(c) match {
      case None => _ => true
      case Some(dt) => fs =>
        fs.cols.get(c) match {
          case Some(cs) =>
            if (cs.min == null) false // all-null column: nothing non-null matches
            else if (!statValueMatches(dt, cs.min) ||
              !statValueMatches(dt, cs.max)) true // writer type != read type
            else test(cs.min, cs.max, dt)
          case None => true
        }
    }
    def norm(c: String, v: Any): Option[Any] =
      typeOf(c).map(dt => normValue(v, dt))
    f match {
      case EqualTo(c, v) =>
        val nv = norm(c, v)
        bounded(c) { (mn, mx, dt) =>
          cmp(dt, nv.get, mn) >= 0 && cmp(dt, nv.get, mx) <= 0 }
      case GreaterThan(c, v) =>
        val nv = norm(c, v)
        bounded(c) { (_, mx, dt) => cmp(dt, mx, nv.get) > 0 }
      case GreaterThanOrEqual(c, v) =>
        val nv = norm(c, v)
        bounded(c) { (_, mx, dt) => cmp(dt, mx, nv.get) >= 0 }
      case LessThan(c, v) =>
        val nv = norm(c, v)
        bounded(c) { (mn, _, dt) => cmp(dt, mn, nv.get) < 0 }
      case LessThanOrEqual(c, v) =>
        val nv = norm(c, v)
        bounded(c) { (mn, _, dt) => cmp(dt, mn, nv.get) <= 0 }
      case In(c, vs) => typeOf(c) match {
        case None => _ => true
        case Some(dt) =>
          // normalize ONCE; the per-file test is a [min,max] overlap
          // screen against the key set's own bounds, then (for small
          // sets) an exact any-key-in-range walk — large DPP sets stop
          // at the O(1) screen (conservative: overlap keeps the file)
          val nvs = vs.filter(_ != null).map(v => normValue(v, dt))
          if (nvs.isEmpty) { _ => false }
          else {
            val kMin = nvs.reduce((a, b) => if (cmp(dt, a, b) <= 0) a else b)
            val kMax = nvs.reduce((a, b) => if (cmp(dt, a, b) >= 0) a else b)
            val exact = if (nvs.length <= 64) nvs else null
            bounded(c) { (mn, mx, dt2) =>
              cmp(dt2, kMax, mn) >= 0 && cmp(dt2, kMin, mx) <= 0 &&
                (exact == null || exact.exists(nv =>
                  cmp(dt2, nv, mn) >= 0 && cmp(dt2, nv, mx) <= 0))
            }
          }
      }
      case IsNull(c) =>
        fs => fs.cols.get(c).forall(_.nulls > 0)
      case IsNotNull(c) =>
        fs => fs.cols.get(c).forall(cs => fs.rows - cs.nulls > 0)
      case StringStartsWith(c, p) =>
        // a string with prefix p is >= p; skip only when max < p
        bounded(c) { (_, mx, dt) => cmp(dt, mx, p) >= 0 }
      case _ => _ => true
    }
  }

  /** One listed data file: its status, the `k=v` partition values on
    * its path, and — when the manifest recorded a writer schema for
    * its generation — the file's POSITIONAL field names (the writer
    * schema's non-partition fields in order). `fileFields == null`
    * means the legacy contract: fields map positionally to the read
    * schema's non-partition fields.
    */
  private[graft] final case class ListedFile(
      status: FileStatus, pvals: Seq[(String, String)],
      fileFields: Array[String] = null,
      /** Decoded per-file column stats (data skipping), or null. */
      stats: FileStats = null,
      /** The generation whose commit wrote the file (0 = legacy/
        * listing without a manifest) — delete-tombstone applicability. */
      gen: Long = 0L,
      /** The manifest-bearing root that listed this file (null =
        * legacy listing). Generations — and so tombstones — are only
        * meaningful within ONE root's lineage; a multi-root read
        * applies each root's tombstones to exactly its own files. */
      root: String = null)

  /** Per-FILE tombstone uncertainty (round-20): round 19 suppressed
    * the metadata-aggregate paths TABLE-WIDE on any live tombstone, so
    * one delta MERGE cost every untouched partition its stats-served
    * counts until OPTIMIZE. A tombstone can touch a file only when
    * (a) the file's generation is at or before the tombstone's (rows
    * written after a delete are never re-deleted — makeSplits' rule)
    * and (b) no partition-only conjunct of its predicate contradicts
    * the file's k=v values (partition columns are CONSTANT per file,
    * so a conjunct false on them is false for every row — the
    * tombstone is provably inert there). Every other file's recorded
    * stats stay authoritative. A conjunct that fails to compile is
    * treated as could-match (conservative). */
  private[v2] def tombUncertainFn(
      rootTombs: Seq[(String, Seq[(Long, String)])], fullSchema: StructType,
      partFields: Array[StructField]): ListedFile => Boolean = {
    if (rootTombs.forall(_._2.isEmpty)) return _ => false
    val idxOf = partFields.map(_.name).zipWithIndex.toMap
    val types = partFields.map(_.dataType)
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case org.apache.spark.sql.sources.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val checks: Seq[(String, Long, Seq[(Array[String], Array[Any] => Boolean)])] =
      rootTombs.flatMap { case (root, tombs) =>
        tombs.map { case (g, enc) =>
          // tombstoneFilter returns the read path's COMPLEMENT (the
          // keep predicate, Not(delete)); the DELETE predicate inside
          // is what must be contradicted. An unexpected shape keeps
          // preds empty = could-match-anywhere (conservative).
          val delPred = tombstoneFilter(enc, fullSchema) match {
            case org.apache.spark.sql.sources.Not(inner) => Some(inner)
            case _ => None
          }
          val preds = delPred.toSeq.flatMap(conjuncts)
            .filter(c => c.references.nonEmpty &&
              c.references.forall(idxOf.contains))
            .flatMap { c =>
              try Some((c.references, compileFilter(c, idxOf, types)))
              catch { case scala.util.control.NonFatal(_) => None }
            }
          (root, g, preds)
        }
      }
    lf => {
      lazy val ext: Array[Any] = {
        val a = new Array[Any](partFields.length)
        var i = 0
        while (i < partFields.length) {
          val raw = lf.pvals.collectFirst {
            case (k, v) if k == partFields(i).name => v }.orNull
          a(i) = parseExternal(raw, types(i))
          i += 1
        }
        a
      }
      // a conjunct contradicts the file ONLY when the file actually
      // RECORDS a value for every referenced partition column and the
      // compiled test is false on those values. A column ABSENT from
      // this file's pvals (a data column for this root — the global
      // partKeySet unions every listed root's keys) says nothing
      // about the rows: compileFilter would read null and return
      // false, silently classing a tombstone-touched file as certain.
      // A recorded null (k=__HIVE_DEFAULT_PARTITION__) is a real
      // per-file constant and contradicts equality normally.
      checks.exists { case (r, g, preds) =>
        (r == null || r == lf.root) && lf.gen <= g &&
          preds.forall { case (refs, p) =>
            refs.exists(c => !lf.pvals.exists(_._1 == c)) || p(ext)
          }
      }
    }
  }

  /** A listing plus the MANIFEST it planned from (the first
    * manifest-bearing root's — single-root for every table-format
    * operation). The manifest generation anchors optimistic-concurrency
    * validation for copy-on-write commits: a row-level operation's
    * write must abort when the table advanced between its scan and its
    * commit (see DelimWrite.commit).
    */
  private[graft] final case class ListingSnapshot(
      files: Seq[ListedFile], manifest: Option[DelimLog.DelimManifest],
      /** EVERY manifest-bearing root's (root key, manifest), in path
        * order — a multi-root read (paths=a,b or a glob over several
        * table roots) must not apply the first root's tombstones/bloom
        * header to the other roots' files. Tombstones apply PER ROOT
        * (round-20; round 19 rejected multi-root tombstone reads
        * outright): every listed file carries its root key, and the
        * generation test runs only against its own root's tombstones.
        * Bloom headers UNION safely (sidecars are per-file truth — a
        * probe against a file lacking the column never skips).
        */
      rootManifests: Seq[(String, DelimLog.DelimManifest)] = Nil) {
    def manifests: Seq[DelimLog.DelimManifest] = rootManifests.map(_._2)
    def unionBloomCols: Seq[String] = manifests.flatMap(_.bloomCols).distinct
    /** (segments in the index, segments loaded), summed over roots. */
    def segmentCounts: (Int, Int) =
      (manifests.map(_.segsIndexed).sum, manifests.map(_.segsLoaded).sum)
    /** (root key, that root's tombstones) for roots that carry any. */
    def rootTombstones: Seq[(String, Seq[(Long, String)])] =
      rootManifests.collect {
        case (r, m) if m.tombstones.nonEmpty => (r, m.tombstones)
      }
  }

  /** THE listing: recursive, with `k=v` partition-directory discovery —
    * the reference's central table layout (dt=.../hr=... directories)
    * understood by the connector itself. Each data file carries the
    * (key, value) pairs of the partition directories on its path, in
    * path order (see [[partSegment]]). A subdirectory NOT in k=v form is
    * ignored (like `_temporary`): the layout contract is flat files or
    * partition trees, never loose nesting. A missing path yields NO
    * files rather than an error: schema inference runs on the WRITE
    * path too, where the target directory may not exist yet.
    *
    * `versionAsOf` lists from the RETAINED snapshot `_manifest.v<gen>`
    * instead of the current one — time travel over the table's
    * retention window (fails loudly when the generation is expired or
    * the directory carries no manifest at all).
    */
  private[graft] def listSnapshot(
      paths: Seq[String], conf: Configuration,
      versionAsOf: Option[Long] = None,
      /** Partition-equality candidates (column → directory-value
        * strings) a SEGMENTED manifest may prune its segment loads
        * by. Purely an optimization: pruned-away files are exactly
        * files the pushed filters exclude at file level anyway. */
      segPrune: Seq[(String, Seq[String])] = Nil): ListingSnapshot = {
    def recurse(fs: FileSystem, st: FileStatus,
        pvals: Seq[(String, String)]): Seq[ListedFile] =
      if (st.isFile) Seq(ListedFile(st, pvals))
      else fs.listStatus(st.getPath).toSeq.flatMap { c =>
        val n = c.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (c.isFile) Seq(ListedFile(c, pvals))
        else partSegment(n).toSeq.flatMap(kv => recurse(fs, c, pvals :+ kv))
      }
    var firstManifest: Option[DelimLog.DelimManifest] = None
    val allManifests =
      scala.collection.mutable.ArrayBuffer.empty[(String, DelimLog.DelimManifest)]
    val rootKeySets = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val files = paths.flatMap { p =>
      val hp = new HPath(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      if (versionAsOf.isDefined && !matched.exists(_.isDirectory))
        throw new IllegalArgumentException(
          s"graft-delim: versionAsOf requires a manifest-bearing table " +
            s"directory, got '$p'")
      matched.flatMap { st =>
        // a committed manifest at a directory root IS the listing
        // (the snapshot-isolation and no-namespace-crawl contract);
        // partition values parse from the entries' k=v path segments
        val manifest =
          if (!st.isDirectory) None
          else versionAsOf match {
            case Some(g) => Some(DelimLog.readManifestVersion(fs, st.getPath, g, segPrune))
            case None => DelimLog.readManifest(fs, st.getPath, segPrune)
          }
        if (firstManifest.isEmpty) firstManifest = manifest
        val listed = manifest match {
          case Some(m) =>
            // tombstone generations are only meaningful within one
            // root's lineage: tag every listed file with its root so
            // downstream tombstone application stays per-root (a
            // flattened set would resurrect this root's MoR-deleted
            // rows elsewhere and mis-delete other roots' rows here)
            val key = st.getPath.toString
            allManifests += ((key, m))
            listedFromManifest(st.getPath, m).map(_.copy(root = key))
          case None => recurse(fs, st, Nil)
        }
        if (listed.nonEmpty)
          rootKeySets += listed.flatMap(_.pvals.map(_._1)).toSet
        listed
      }
    }.filterNot { f =>
      val n = f.status.getPath.getName
      n.startsWith("_") || n.startsWith(".") || n.endsWith(DelimBloom.Suffix)
    }.sortBy(_.status.getPath.toString)
    // MIXED LAYOUTS across roots reject LOUDLY: partition columns
    // resolve per SCAN (a schema field matching any discovered k=v
    // key), so a column that is a partition directory in one root but
    // a data column in another would silently read NULL for the
    // second root's rows — and a tombstone referencing it would
    // silently resurrect that root's MoR-deleted rows. Within one
    // root the legacy mixed-depth listing keeps its documented
    // missing-value-reads-null behavior.
    if (rootKeySets.distinct.size > 1)
      throw new IllegalArgumentException(
        "graft-delim: multi-root read over roots with DIFFERENT " +
          "partition layouts is unsupported (partition keys " +
          rootKeySets.distinct.map(_.mkString("{", ",", "}")).mkString(" vs ") +
          ") — a column that is a partition directory in one root and " +
          "a data column in another would silently read NULL; read " +
          "the roots singly or align their layouts")
    ListingSnapshot(files, firstManifest, allManifests.toSeq)
  }

  /** Manifest entries as listed files: partition values parse from the
    * entries' k=v path segments, field layouts from the entries'
    * generations' recorded schemas. Shared by batch listing and the
    * streaming source's per-generation batches.
    */
  // ------------------------------------------------- stable field IDs
  //
  // RENAME/DROP COLUMN need identity that survives the name: each
  // recorded generation schema carries a per-field ID in StructField
  // metadata (persisted through the schema's JSON — no manifest format
  // change). Writers INHERIT IDs by name from the latest recorded
  // schema and mint fresh ones for new names; a rename keeps the ID
  // under the new name; a drop removes the name but old generations
  // keep theirs. At LISTING time each file's positional field names
  // are TRANSLATED to the current schema's names through the IDs, so
  // the readers' by-name mapping needs no changes at all: a renamed
  // column reads from every generation, a dropped-then-re-added name
  // never captures the old column's bytes (the old ID maps to an
  // inert `__dropped_<id>` name).

  private[graft] val FieldIdKey = "graft.field.id"

  private[graft] def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  private[graft] def withFieldId(f: StructField, id: Long): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** Attach stable field IDs to a committing generation's schema:
    * names inherit their ID from the latest recorded schema, genuinely
    * new names get fresh IDs above every ID any recorded schema ever
    * used (a dropped-and-re-added name therefore gets a NEW identity).
    *
    * `preferRecorded` (the catalog's retro pass ONLY) keeps an ID a
    * field already carries instead of re-deriving it by name: a schema
    * committed by a prior RENAME holds the renamed field under its new
    * name, which name inheritance cannot reach — re-minting would
    * orphan every pre-rename generation's column as `__dropped_<id>`.
    * Write commits must NOT prefer recorded IDs: a dataframe read from
    * table A and written to table B would smuggle A's IDs into B's
    * lineage and break B's own translation.
    *
    * `fallbackByName` / `reservedMax` (retro pass only): a PRE-SCHEME
    * generation processed before any ID-bearing one has no earlier
    * inheritance source, but a LATER generation may already record the
    * same name (a write under the scheme minted it) — the fallback map
    * links them, and fresh mints start above the whole lineage's
    * maximum so a pre-scheme field can never collide with an ID a
    * later generation keeps verbatim (two different columns sharing
    * one ID would alias their bytes across generations).
    */
  private[graft] def assignFieldIds(
      schema: StructType,
      schemas: Map[Long, DelimLog.ManifestSchema],
      preferRecorded: Boolean = false,
      fallbackByName: Map[String, Long] = Map.empty,
      reservedMax: Long = 0L): StructType = {
    val latest = schemas.toSeq.sortBy(_._1).lastOption.map(_._2.struct)
    val byName: Map[String, Long] = latest
      .map(_.fields.flatMap(f => fieldId(f).map(f.name -> _)).toMap)
      .getOrElse(Map.empty)
    var maxId = (schemas.values.flatMap(_.struct.fields) ++
      (if (preferRecorded) schema.fields.toSeq else Nil))
      .flatMap(fieldId).foldLeft(reservedMax)(math.max)
    StructType(schema.fields.map { f =>
      (if (preferRecorded) fieldId(f) else None)
        .orElse(byName.get(f.name))
        .orElse(fallbackByName.get(f.name)) match {
        case Some(id) => withFieldId(f, id)
        case None => maxId += 1; withFieldId(f, maxId)
      }
    })
  }

  /** Per-generation layout TRANSLATION for a manifest: recorded
    * positional field names → the current schema's names through the
    * stable field IDs (dropped IDs become inert `__dropped_<id>`
    * names), plus the stat-key renames. Shared by the listing (every
    * scan) and by compaction's tombstone-retirement rewrite — a
    * rewrite that read recorded names directly would NULL any column
    * renamed after the member was written.
    */
  private[graft] def layoutTranslations(m: DelimLog.DelimManifest)
      : Long => Option[(Array[String], Map[String, String])] = {
    val cur = m.schemas.get(m.gen)
      .orElse(m.schemas.toSeq.sortBy(_._1).lastOption.map(_._2))
    val curById: Map[Long, String] = cur
      .map(_.struct.fields.flatMap(f => fieldId(f).map(_ -> f.name)).toMap)
      .getOrElse(Map.empty)
    val layoutCache =
      scala.collection.mutable.Map.empty[Long, (Array[String], Map[String, String])]
    gen => m.schemas.get(gen).map { ms =>
      layoutCache.getOrElseUpdate(gen, {
        val dataFields =
          ms.struct.fields.filterNot(f => ms.partCols.contains(f.name))
        val pairs = dataFields.map { f =>
          val tn =
            if (curById.isEmpty) f.name
            else fieldId(f)
              .map(id => curById.getOrElse(id, s"__dropped_$id"))
              .getOrElse(f.name)
          (f.name, tn)
        }
        (pairs.map(_._2),
          pairs.filter(p => p._1 != p._2).toMap)
      })
    }
  }

  private[graft] def listedFromManifest(
      root: HPath, m: DelimLog.DelimManifest): Seq[ListedFile] = {
    val layout = layoutTranslations(m)
    m.files.map { e =>
      val pvals = partValues(DelimLog.dirOf(e.rel))
      val lay = layout(e.gen)
      val stats0 = decodeStats(e.stats, m.schemas.get(e.gen)).orNull
      // stats were recorded under the WRITE-TIME names: translate the
      // keys too, so skipping keeps working across a rename
      val stats = lay match {
        case Some((_, renames)) if stats0 != null && renames.nonEmpty =>
          stats0.copy(cols = stats0.cols.map { case (k, v) =>
            renames.getOrElse(k, k) -> v })
        case _ => stats0
      }
      ListedFile(new FileStatus(e.len, false, 1, 0L, 0L,
        new HPath(root, e.rel)), pvals,
        lay.map(_._1).orNull,
        stats,
        e.gen)
    }
  }

  private val pushableTypes: Set[DataType] =
    Set(StringType, IntegerType, LongType, DoubleType, DateType,
      TimestampType)

  def pushableType(dt: DataType): Boolean = pushableTypes.contains(dt)

  /** A filter is pushable iff it is a simple predicate over ONE known
    * column of a supported type (compound And/Or/Not stay in Spark —
    * the scan-level win is the leaf conjuncts, which Catalyst has
    * already split out of WHERE conjunctions before pushdown).
    */
  def supportedFilter(f: Filter, schema: StructType): Boolean = {
    def ok(col: String): Boolean =
      schema.fieldNames.contains(col) &&
        pushableTypes.contains(schema(col).dataType)
    f match {
      case EqualTo(c, v) => ok(c) && v != null
      case GreaterThan(c, v) => ok(c) && v != null
      case GreaterThanOrEqual(c, v) => ok(c) && v != null
      case LessThan(c, v) => ok(c) && v != null
      case LessThanOrEqual(c, v) => ok(c) && v != null
      case In(c, vs) => ok(c) && vs != null && vs.forall(_ != null)
      case IsNull(c) => ok(c)
      case IsNotNull(c) => ok(c)
      case StringStartsWith(c, _) =>
        schema.fieldNames.contains(c) && schema(c).dataType == StringType
      case _ => false
    }
  }

  /** Parse a raw field into its EXTERNAL comparison value: String,
    * Int, Long, Double, or Long epoch-day for DATE. Malformed → null.
    */
  def parseExternal(raw: String, dt: DataType): Any =
    if (raw == null) null
    else dt match {
      case StringType => raw
      case IntegerType =>
        try raw.trim.toInt catch { case _: NumberFormatException => null }
      case LongType =>
        try raw.trim.toLong catch { case _: NumberFormatException => null }
      case DoubleType =>
        // +0.0 and -0.0 compare EQUAL in Spark's comparison semantics,
        // but java.lang.Double.compare orders them — and pushed filters
        // are absorbed exactly (no residual re-check), so an unnormalized
        // -0.0 would silently diverge from the unpushed result. Normalize
        // both the parsed field and the filter literal (normValue) to +0.0.
        try { val d = raw.trim.toDouble; if (d == 0.0d) 0.0d else d }
        catch { case _: NumberFormatException => null }
      case DateType =>
        try LocalDate.parse(raw.trim).toEpochDay
        catch { case _: java.time.format.DateTimeParseException => null }
      case TimestampType =>
        // `yyyy-MM-dd HH:mm:ss[.f{1,6}]` (the Hive text form this
        // connector writes) or the ISO 'T' variant -> epoch MICROS
        // under the session's UTC convention; malformed -> null
        try {
          val t = raw.trim.replace(' ', 'T')
          val ldt = java.time.LocalDateTime.parse(t)
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L
        } catch { case _: java.time.format.DateTimeParseException => null }
      case other =>
        throw new IllegalArgumentException(s"graft-delim: unsupported type $other")
    }

  /** External value → the text form `parseExternal` reads back (stats
    * bound serialization).
    */
  private[v2] def externalToText(v: Any, dt: DataType): String =
    if (v == null) null
    else dt match {
      case DateType => LocalDate.ofEpochDay(v.asInstanceOf[Long]).toString
      case TimestampType => microsToText(v.asInstanceOf[Long])
      case _ => v.toString
    }

  /** Epoch micros -> `yyyy-MM-dd HH:mm:ss.SSSSSS` (UTC) — the Hive
    * timestamp text form, full fraction for a deterministic round trip.
    */
  private[v2] def microsToText(us: Long): String = {
    val sec = java.lang.Math.floorDiv(us, 1000000L)
    val frac = java.lang.Math.floorMod(us, 1000000L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      sec, frac.toInt * 1000, java.time.ZoneOffset.UTC)
    f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d.$frac%06d"
  }

  /** External → Catalyst internal representation. */
  def toInternal(ext: Any, dt: DataType): Any =
    if (ext == null) null
    else dt match {
      case StringType => UTF8String.fromString(ext.asInstanceOf[String])
      case DateType => ext.asInstanceOf[Long].toInt // epoch days
      case _ => ext // TimestampType: external micros == internal micros
    }

  private[graft] def normValue(v: Any, dt: DataType): Any = dt match {
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: LocalDate => d.toEpochDay
      case s: String => LocalDate.parse(s).toEpochDay
      case u: UTF8String => LocalDate.parse(u.toString).toEpochDay
      case other => throw new IllegalArgumentException(
        s"graft-delim: cannot compare DATE column to $other")
    }
    case TimestampType => v match {
      case t: java.sql.Timestamp =>
        java.lang.Math.floorDiv(t.getTime, 1000L) * 1000000L +
          (t.getNanos / 1000L)
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: Long => l
      case s: String => parseExternal(s, TimestampType) match {
        case null => throw new IllegalArgumentException(
          s"graft-delim: cannot compare TIMESTAMP column to '$s'")
        case us => us
      }
      case other => throw new IllegalArgumentException(
        s"graft-delim: cannot compare TIMESTAMP column to $other")
    }
    case DoubleType =>
      val d = v.asInstanceOf[Number].doubleValue()
      if (d == 0.0d) 0.0d else d // -0.0 == 0.0 per Spark (see parseExternal)
    case LongType => v.asInstanceOf[Number].longValue()
    case IntegerType => v.asInstanceOf[Number].intValue()
    case StringType => v match {
      case u: UTF8String => u.toString
      case s: String => s
      case other => other.toString
    }
    case other =>
      throw new IllegalArgumentException(s"graft-delim: unsupported type $other")
  }

  /** Code-point string compare == UTF-8 binary order (what Spark uses
    * for string sorts/ranges); java.lang.String.compareTo is UTF-16
    * code-UNIT order, which diverges for supplementary-plane chars vs
    * U+E000–U+FFFF. Allocation-free (no UTF8String round-trip per row).
    */
  private[v2] def cmpCodePoints(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private[v2] def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType => cmpCodePoints(a.asInstanceOf[String], b.asInstanceOf[String])
    case IntegerType => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | DateType | TimestampType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case other =>
      throw new IllegalArgumentException(s"graft-delim: unsupported type $other")
  }

  /** Serialize a DELETE condition (conjunction of pushable V1 filters)
    * as a manifest tombstone: `;`-joined leaves, each
    * `op:col:value...` with every field %-escaped (statEsc — the same
    * escaping as file stats). Values serialize in their EXTERNAL text
    * form, typed by the table schema at delete time; `decodeTombstone`
    * re-types them by the read schema and fails LOUDLY on a mismatch —
    * silently skipping an unapplicable tombstone would resurrect
    * deleted rows.
    */
  private[graft] def encodeTombstone(
      filters: Seq[Filter], schema: StructType): String = {
    def vtxt(c: String, v: Any): String = {
      val dt = schema(c).dataType
      statEsc(externalToText(normValue(v, dt), dt))
    }
    filters.map {
      case EqualTo(c, v) => s"eq:${statEsc(c)}:${vtxt(c, v)}"
      case GreaterThan(c, v) => s"gt:${statEsc(c)}:${vtxt(c, v)}"
      case GreaterThanOrEqual(c, v) => s"ge:${statEsc(c)}:${vtxt(c, v)}"
      case LessThan(c, v) => s"lt:${statEsc(c)}:${vtxt(c, v)}"
      case LessThanOrEqual(c, v) => s"le:${statEsc(c)}:${vtxt(c, v)}"
      case In(c, vs) =>
        (s"in:${statEsc(c)}" +: vs.toSeq.map(v => vtxt(c, v))).mkString(":")
      case IsNull(c) => s"isnull:${statEsc(c)}"
      case IsNotNull(c) => s"notnull:${statEsc(c)}"
      case StringStartsWith(c, p) => s"sw:${statEsc(c)}:${statEsc(p)}"
      case other => throw new IllegalArgumentException(
        s"graft-delim: filter not tombstone-encodable: $other")
    }.mkString(";")
  }

  /** Decode a tombstone back to its filter conjunction under the READ
    * schema. Any gap — unknown column, unparseable value under the
    * read type, malformed text — throws: a tombstone that cannot be
    * applied must stop the read, not silently resurrect deleted rows.
    */
  private[graft] def decodeTombstone(
      encoded: String, schema: StructType): Seq[Filter] = {
    def bad(what: String): Nothing = throw new IllegalStateException(
      s"graft-delim: cannot apply delete tombstone '$encoded' under read " +
        s"schema ${schema.simpleString}: $what")
    def col(c0: String): String = {
      val c = statUnesc(c0)
      if (!schema.fieldNames.contains(c)) bad(s"no column '$c'")
      c
    }
    def value(c: String, v0: String): Any = {
      val v = parseExternal(statUnesc(v0), schema(c).dataType)
      if (v == null) bad(s"value '${statUnesc(v0)}' unparseable as " +
        s"${schema(c).dataType.simpleString} for column '$c'")
      v
    }
    encoded.split(';').toSeq.map { leaf =>
      val f = leaf.split(':')
      f(0) match {
        case "eq" if f.length == 3 => EqualTo(col(f(1)), value(col(f(1)), f(2)))
        case "gt" if f.length == 3 => GreaterThan(col(f(1)), value(col(f(1)), f(2)))
        case "ge" if f.length == 3 => GreaterThanOrEqual(col(f(1)), value(col(f(1)), f(2)))
        case "lt" if f.length == 3 => LessThan(col(f(1)), value(col(f(1)), f(2)))
        case "le" if f.length == 3 => LessThanOrEqual(col(f(1)), value(col(f(1)), f(2)))
        case "in" if f.length >= 2 =>
          val c = col(f(1))
          In(c, f.drop(2).map(v => value(c, v)).toArray[Any])
        case "isnull" if f.length == 2 => IsNull(col(f(1)))
        case "notnull" if f.length == 2 => IsNotNull(col(f(1)))
        case "sw" if f.length == 3 => StringStartsWith(col(f(1)), statUnesc(f(2)))
        case _ => bad(s"malformed leaf '$leaf'")
      }
    }
  }

  /** A decoded tombstone as ONE row filter: the complement of its
    * conjunction. Built from the standard V1 Not/And shapes so it
    * rides the readers' existing filter plumbing (references, scratch
    * columns, compileFilter).
    */
  private[graft] def tombstoneFilter(
      encoded: String, schema: StructType): Filter =
    Not(decodeTombstone(encoded, schema).reduce[Filter]((a, b) => And(a, b)))

  /** Compile a pushed filter to a predicate over the parsed external
    * field array. SQL comparison semantics: anything vs null → false
    * (only IsNull admits nulls). And/Or/Not compile TWO-VALUED
    * (null-valued leaves are plain false, so Not(leaf) is true on
    * null) — never produced by pushdown (supportedFilter rejects
    * compounds); they exist for delete-tombstone complements, where
    * "the DELETE did not match this row" (null = no match = keep) is
    * exactly the required semantics.
    */
  def compileFilter(
      f: Filter, idxOf: Map[String, Int], types: Array[DataType]): Array[Any] => Boolean = {
    def at(c: String): Int = idxOf(c)
    def rel(c: String, v: Any, test: Int => Boolean): Array[Any] => Boolean = {
      val i = at(c); val dt = types(i); val nv = normValue(v, dt)
      row => row(i) != null && test(cmp(dt, row(i), nv))
    }
    f match {
      case EqualTo(c, v) => rel(c, v, _ == 0)
      case GreaterThan(c, v) => rel(c, v, _ > 0)
      case GreaterThanOrEqual(c, v) => rel(c, v, _ >= 0)
      case LessThan(c, v) => rel(c, v, _ < 0)
      case LessThanOrEqual(c, v) => rel(c, v, _ <= 0)
      case In(c, vs) =>
        // hash-set probe, not a linear scan: the runtime (DPP) path
        // delivers the broadcast build-side KEY SET as an In — thousands
        // of keys at scale — and O(rows × keys) inside the parse loop
        // inverts the win the pruning exists for. All five pushable
        // types hash exactly after normValue (strings/ints/longs/
        // epoch-day dates are canonical boxes; doubles normalize -0.0,
        // and java.lang.Double hashes NaN==NaN like Spark's equality).
        val i = at(c); val dt = types(i)
        val set = new java.util.HashSet[Any](vs.length * 2)
        vs.foreach(v => set.add(normValue(v, dt)))
        row => row(i) != null && set.contains(row(i))
      case IsNull(c) =>
        val i = at(c); row => row(i) == null
      case IsNotNull(c) =>
        val i = at(c); row => row(i) != null
      case StringStartsWith(c, prefix) =>
        val i = at(c)
        row => row(i) != null && row(i).asInstanceOf[String].startsWith(prefix)
      case And(l, r) =>
        val cl = compileFilter(l, idxOf, types)
        val cr = compileFilter(r, idxOf, types)
        row => cl(row) && cr(row)
      case Or(l, r) =>
        val cl = compileFilter(l, idxOf, types)
        val cr = compileFilter(r, idxOf, types)
        row => cl(row) || cr(row)
      case Not(c) =>
        val cc = compileFilter(c, idxOf, types)
        row => !cc(row)
      case other =>
        throw new IllegalArgumentException(s"graft-delim: filter not pushable: $other")
    }
  }
}
