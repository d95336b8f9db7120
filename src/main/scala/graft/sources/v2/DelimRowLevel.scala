package graft.sources.v2

import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED copy-on-write row-level operations for graft-delim —
  * the SQL front door for `MERGE INTO` / `UPDATE` / `DELETE` against
  * catalog tables (`graft_cat`), replacing the reference's
  * rewrite-the-whole-table-by-hand maintenance loop with Spark's
  * native `RewriteMergeIntoTable` / `RewriteUpdateTable` /
  * `RewriteDeleteFromTable` analysis rules.
  *
  * The contract Spark's group-based rewrite expects from a source:
  * the operation exposes a SCAN of the table and a WRITE whose commit
  * replaces exactly what that scan read. Here the scan is the ordinary
  * [[DelimScan]] — which means MERGE inherits the connector's whole
  * pruning ladder for free: a partition predicate in the ON condition
  * prunes files statically, and Spark's runtime group filtering
  * (`RowLevelOperationRuntimeGroupFiltering`) delivers the matched
  * groups as a runtime `In` filter, which the scan applies at FILE
  * level — so a MERGE touching one partition reads and rewrites one
  * partition, the Warehouse.mergeByKey discipline (core/Warehouse
  * .scala) expressed as SQL. The write is a [[DelimWrite]] in
  * replace-scanned mode: its manifest commit drops exactly the
  * scanned files' entries and adds the replacement rows' files,
  * through the same generation-claim protocol as every commit (a
  * writer racing the MERGE fails loudly, never silent loss).
  */
private[v2] class DelimRowLevelOperation(
    cmd: RowLevelOperation.Command,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends RowLevelOperation {

  /** Every scan built for this operation. The MAIN scan (the one
    * feeding ReplaceData's query — it reads the FULL row, so its
    * read schema covers every table column) supplies the
    * copy-on-write replacement set; the runtime group-filtering
    * SUBQUERY scan (reading `_file` alone, unpruned by the dynamic
    * filter) must never be mistaken for it — replacing ITS planned
    * files would unlist every file in the table. One operation
    * instance serves one command, so the list cannot be raced by
    * another query.
    */
  private val builtScans =
    new java.util.concurrent.CopyOnWriteArrayList[DelimScan]()

  /** The manifest generation the operation's FIRST scan planned from —
    * the optimistic-concurrency base for the copy-on-write commit. A
    * commit that finds the table at a different generation (a writer
    * landed between this operation's scan and its commit — a window
    * spanning the whole query execution, far wider than the
    * generation-claim race) must abort instead of silently absorbing
    * the interleaved commit (see DelimWrite.commit).
    */
  @volatile private var baseGen: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new DelimScanBuilder(tableSchema, DelimTable.merged(options, opts)) {
      /** GROUP-GRANULAR pushdown contract: Spark pushes the command's
        * condition into a row-level operation's scan assuming the
        * source uses it to prune GROUPS (files) only — sources like
        * Iceberg never drop individual rows at the scan. This
        * connector absorbs pushed filters row-EXACTLY, which here
        * would delete the carry-over rows of matched groups (observed:
        * DELETE WHERE id = 2 absorbed EqualTo(id,2) and rewrote the
        * file to just the matches' complement of nothing). So accept
        * only PARTITION-column filters (file-granular by construction)
        * and return every data filter as residual.
        */
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        val (grp, row) = filters.partition(f =>
          f.references.nonEmpty && f.references.forall(partKeySet.contains))
        row ++ super.pushFilters(grp)
      }

      override def build(): Scan = {
        val s = super.build().asInstanceOf[DelimScan]
        s.rowLevelGroupScan = true // group-filter on `_file` alone
        builtScans.add(s)
        if (baseGen.isEmpty) baseGen = snapshotGen
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val partCols = Option(options.get("partitionBy")).toSeq
      .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    new WriteBuilder {
      override def build(): Write =
        new DelimWrite(info.schema(), info.queryId(),
          DelimV2.paths(options).head, DelimV2.delimiter(options),
          truncate = false, partCols, dynamicOverwrite = false,
          DelimV2.quoteChar(options),
          replaceBaseGen = () => baseGen,
          replaceScanned = Some(() => {
            import scala.jdk.CollectionConverters._
            val dataCols = tableSchema.fieldNames.toSet
            val main = builtScans.asScala
              .filter(s => dataCols.subsetOf(s.readSchema().fieldNames.toSet))
              .lastOption.getOrElse(throw new IllegalStateException(
                "graft-delim: row-level write committed without a " +
                  "full-row scan (candidates: " +
                  builtScans.asScala.map(_.readSchema().simpleString)
                    .mkString("; ") + ")"))
            main.lastPlannedFiles
          }))
    }
  }

  /** `_file` — the group key: carry-over rows ride with it (Spark then
    * routes the write through its projecting task), and runtime group
    * filtering delivers matched groups as an `In(_file, ...)` the scan
    * prunes at file level.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(DelimV2.FileMetaCol))

  override def description(): String = s"GraftDelimRowLevel $cmd"
}
