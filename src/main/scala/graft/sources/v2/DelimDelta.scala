package graft.sources.v2

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED (merge-on-read) row-level operations — selected when
  * the table declares `mergeMode 'merge-on-read'` and a `rowId`
  * column. A narrow MERGE / UPDATE / DELETE then commits exactly two
  * artifacts instead of rewriting every matched file:
  *
  *  - new data files holding the INSERTED and UPDATED rows (updates
  *    are represented as delete+insert), and
  *  - ONE key-equality delete tombstone — `In(rowId, touched keys)` —
  *    recorded at the PREVIOUS generation, so it applies to every
  *    pre-existing file and never to the delta's own files (the same
  *    generation-scoping rule as pushable DELETE).
  *
  * Matched data files stay byte-identical; readers apply the
  * complement through the existing per-split tombstone machinery, and
  * OPTIMIZE (DelimCompact) retires the accumulated debt by rewriting
  * only the tombstoned files. At 100 TB this is the difference
  * between a 10-row correction costing 10 rows + one manifest line
  * and costing a rewrite of every file that holds a match
  * (copy-on-write amplification — the shape [[DelimRowLevelOperation]]
  * keeps for tables that prefer read-path purity).
  *
  * CONTRACT: `rowId` must uniquely identify rows (the table's key) —
  * the ON condition matches rows, but the committed tombstone deletes
  * BY KEY, so a non-key rowId would delete unmatched duplicates
  * (Iceberg's identifier-field contract, same reason). The per-commit
  * key count is capped (`deltaMaxKeys`, default 100k — one manifest
  * line of ~12 bytes/key): a wide MERGE past the cap fails loudly and
  * should run against a copy-on-write table instead.
  */
private[v2] class DelimDeltaOperation(
    cmd: RowLevelOperation.Command,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    rowIdCol: String)
    extends RowLevelOperation with SupportsDelta {

  /** Generation the operation's scan planned from — commit validates
    * the table is STILL there (scan-to-commit optimistic concurrency,
    * same contract as the CoW path). */
  @volatile private var baseGen: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(rowIdCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** The PLAIN scan builder: in delta mode there are no carry-over
    * rows (unmatched rows are simply not rewritten), so the pushed
    * command condition may be absorbed row-exactly — dropping
    * non-matching target rows at the scan is pure pruning here,
    * unlike the group-based path where it would delete them.
    */
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new DelimScanBuilder(tableSchema, DelimTable.merged(options, opts)) {
      override def build(): Scan = {
        val s = super.build()
        if (baseGen.isEmpty) baseGen = snapshotGen
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new DelimDeltaWrite(info, options, tableSchema, rowIdCol,
          () => baseGen)
    }

  override def description(): String =
    s"GraftDelimDelta $cmd rowId=$rowIdCol"
}

/** Per-task delta commit: the staged insert files plus the touched
  * keys, in EXTERNAL representation (encodeTombstone's input form). */
private[v2] case class DelimDeltaCommit(
    staged: Seq[DelimStagedFile], multiLine: Boolean, keys: Seq[Any])
    extends WriterCommitMessage

private[v2] class DelimDeltaWrite(
    info: LogicalWriteInfo,
    options: CaseInsensitiveStringMap,
    tableSchema: StructType,
    rowIdCol: String,
    baseGen: () => Option[Long])
    extends DeltaWrite with DeltaBatchWrite {

  private val path = DelimV2.paths(options).head
  private val delim = DelimV2.delimiter(options)
  private val quote = DelimV2.quoteChar(options)
  private val partCols = Option(options.get("partitionBy")).toSeq
    .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
  private val maxKeys = Option(options.get("deltaMaxKeys"))
    .map(_.trim.toInt).getOrElse(100000)
  private val rowIdType: DataType = tableSchema(rowIdCol).dataType
  private def staging = new HPath(path, s"_staging_${info.queryId()}")

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val stagingDir = staging.toString
    val schema = info.schema()
    // a deletes-only plan (DELETE in delta mode) carries NO row
    // columns: insert() is never called, so the inner writer needs no
    // partition routing (an empty schema cannot resolve partCols)
    val pc =
      if (partCols.forall(schema.fieldNames.contains)) partCols else Nil
    val d = delim; val q = quote
    val idT = rowIdType; val cap = maxKeys
    // the delta's insert files carry the table's bloom sidecars like
    // any write — a key lookup after a MERGE must keep skipping.
    // Header-only read: the factory needs just the bloom config, not
    // the full (possibly segmented) manifest commit() re-reads anyway
    val bloomFor = {
      val fs0 = DelimV2.fileSystem(staging, DelimV2.driverConf())
      DelimLog.headerBloomCols(fs0, new HPath(path))
        .filter(c => schema.fieldNames.contains(c) && !partCols.contains(c))
    }
    val cm = DelimV2.shippableConf(DelimV2.driverConf())
    val token = info.queryId().replace("-", "").take(8)
    new DeltaWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long)
          : DeltaWriter[InternalRow] =
        new DelimDeltaWriter(
          new DelimDataWriter(stagingDir,
            f"delta-$partitionId%05d-$taskId-$token",
            schema, d, cm, pc, quote = q,
            singleOpenStream = false, bloomFor = bloomFor),
          idT, cap)
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = DelimV2.fileSystem(staging, DelimV2.driverConf())
    val target = new HPath(path)
    val deltas = messages.toSeq.map {
      case d: DelimDeltaCommit => d
      case other => throw new IllegalStateException(
        s"graft-delim: foreign delta commit message $other")
    }
    val prevM = DelimLog.snapshotManifest(fs, target, fs.getConf)
    // optimistic concurrency: a commit that landed between this
    // operation's scan and now means the tombstone could delete rows
    // it never matched (or miss rows it should have) — abort loudly
    if (baseGen().exists(_ != prevM.gen)) {
      fs.delete(staging, true)
      throw new java.util.ConcurrentModificationException(
        s"graft-delim: delta row-level operation at $target scanned " +
          s"generation ${baseGen().get} but the table is now at " +
          s"${prevM.gen} — a concurrent commit landed between scan and " +
          "commit; re-run against the new snapshot")
    }
    val keys = deltas.flatMap(_.keys).distinct
    if (keys.size > maxKeys) {
      fs.delete(staging, true)
      throw new UnsupportedOperationException(
        s"graft-delim: delta commit touches ${keys.size} keys, over the " +
          s"deltaMaxKeys cap ($maxKeys) — run this operation against a " +
          "copy-on-write table (mergeMode 'copy-on-write') instead")
    }
    DelimLog.commit(fs, target, prevM, deltas.flatMap(_.staged), Some(staging)) {
      (newGen, newEntries) =>
        prevM.copy(
          files = prevM.files ++ newEntries,
          multiLine = prevM.multiLine || deltas.exists(_.multiLine),
          // record a generation schema ONLY when the delta landed files
          // (it describes their layout). A deletes-only commit has an
          // EMPTY write schema — recording it would become the "latest"
          // schema and poison the field-ID lineage (translation,
          // inheritance, and tombstone retirement all resolve against
          // the latest recorded schema); with no entry, the previous
          // generation's stays latest.
          schemas =
            if (newEntries.isEmpty) prevM.schemas
            else prevM.schemas + (newGen -> DelimLog.ManifestSchema(partCols,
              DelimV2.assignFieldIds(info.schema(), prevM.schemas))),
          // the tombstone is recorded at the PREVIOUS generation: it
          // applies to every pre-existing file, never to the delta's
          // own inserts
          tombstones =
            if (keys.isEmpty) prevM.tombstones
            else prevM.tombstones :+ ((prevM.gen,
              DelimV2.encodeTombstone(
                Seq(In(rowIdCol, keys.toArray[Any])), tableSchema))))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = DelimV2.fileSystem(staging, DelimV2.driverConf())
    fs.delete(staging, true)
  }
}

/** Task-side delta writer: inserts stream through the ordinary data
  * writer; deletes collect their rowId key (bounded). Updates never
  * arrive — the operation represents them as delete+insert. */
private[v2] class DelimDeltaWriter(
    inner: DelimDataWriter, rowIdType: DataType, maxKeys: Int)
    extends DeltaWriter[InternalRow] {

  private val keys = mutable.LinkedHashSet.empty[Any]

  private def externalKey(id: InternalRow): Any = {
    if (id.isNullAt(0))
      throw new IllegalStateException(
        "graft-delim: null rowId in a delta delete — the rowId column " +
          "must be a non-null key")
    rowIdType match {
      case LongType => id.getLong(0)
      case IntegerType => id.getInt(0)
      case StringType => id.getUTF8String(0).toString
      case DoubleType => id.getDouble(0)
      case DateType => java.time.LocalDate.ofEpochDay(id.getInt(0).toLong)
      case TimestampType => id.getLong(0) // internal micros == external
      case other => throw new UnsupportedOperationException(
        s"graft-delim: unsupported rowId type $other")
    }
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    keys += externalKey(id)
    if (keys.size > maxKeys)
      throw new UnsupportedOperationException(
        s"graft-delim: delta task exceeded deltaMaxKeys ($maxKeys) — " +
          "run this operation against a copy-on-write table instead")
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "graft-delim: update() unreachable (updates are delete+insert)")

  override def insert(row: InternalRow): Unit = inner.write(row)

  override def commit(): WriterCommitMessage =
    inner.commit() match {
      case DelimCommit(staged, multi) =>
        DelimDeltaCommit(staged, multi, keys.toSeq)
      case other => throw new IllegalStateException(
        s"graft-delim: unexpected inner commit $other")
    }

  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
