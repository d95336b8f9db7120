package graft.sources.v2

import java.util.OptionalLong

import org.apache.hadoop.fs.{FSDataInputStream, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Read side of the connector: the scan builder takes the pushdowns
  * DelimSource lists, [[DelimScan]] plans splits (batch and
  * micro-batch), and [[DelimReaderFactory]] hands every split to
  * [[DelimColumnarReader]] over [[LineSplitReader]]'s framing.
  */
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
    * scanning bytes for '\n' under the same split contract as the
    * scan's reader — no parse, no String, no InternalRow per line;
    * Spark sums the per-split partials. Declined when DATA-column filters are
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
      private def fs = DelimV2.fileSystem(root, DelimV2.driverConf())
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
      new DelimReaderFactory(
        fullSchema, required, rowFilters, delim, limit, confMap,
        partFields.map(_.name), topN, quote, multiLine)
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
    val p = new HPath(split.path)
    val in = DelimV2.fileSystem(p, DelimV2.executorConf(confMap)).open(p)
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

/** Hands every batch-scan and micro-batch split to
  * [[DelimColumnarReader]], the one parser of graft-delim rows
  * (DelimCompact's retire rewrite builds one directly), so there are
  * no row readers to hand out.
  */
private[v2] class DelimReaderFactory(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    delim: Char,
    limit: Int,
    confMap: Map[String, String],
    partCols: Array[String],
    topN: Array[DelimSortKey],
    quote: Int,
    multiLine: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft-delim: scans read columnar batches only")

  override def createColumnarReader(
      partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val split = partition.asInstanceOf[DelimSplit]
    val p = new HPath(split.path)
    val fs = DelimV2.fileSystem(p, DelimV2.executorConf(confMap))
    // executor-side BLOOM gate: when the split carries probes and the
    // file's sidecar proves no equality key can match, the task never
    // opens the data bytes (DelimBloom — the footer-bloom move)
    if (split.bloomProbes.nonEmpty &&
      DelimBloom.fileSkips(fs, p, split.bloomProbes.toSeq))
      return new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        override def next(): Boolean = false
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          throw new NoSuchElementException
        override def close(): Unit = ()
      }
    new DelimColumnarReader(fs.open(p), split, fullSchema, required,
      filters ++ split.tombstones, delim,
      limit, partCols, quote, multiLine, topN)
  }
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
