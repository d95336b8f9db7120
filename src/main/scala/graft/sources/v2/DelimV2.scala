package graft.sources.v2

import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
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
      val fs = DelimV2.fileSystem(hp, conf)
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
        val fs = DelimV2.fileSystem(f.getPath, conf)
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
    DelimV2.fileSystem(tableRoot, DelimV2.driverConf())

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

private[graft] object DelimV2 {

  def delimiter(options: CaseInsensitiveStringMap): Char = {
    val d = options.getOrDefault("delimiter", "|")
    require(d.length == 1, s"graft-delim: delimiter must be one char, got '$d'")
    // records are newline-framed and fields are matched as UTF-8 bytes:
    // a line break would split records, and a lone surrogate has no
    // UTF-8 encoding
    val c = d.charAt(0)
    require(c != '\n' && c != '\r' && !Character.isSurrogate(c),
      f"graft-delim: delimiter U+${c.toInt}%04X is a line break or a " +
        "lone surrogate")
    c
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
      val fs = fileSystem(root, driverConf())
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
      val fs = fileSystem(root, driverConf())
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
    withLocalFs(SparkSession.active.sessionState.newHadoopConf())

  /** graft-delim's `FileSystem` for `p`, at every site that lists,
    * opens, renames or deletes table files. Hadoop's `FileSystem` cache
    * ignores the conf, so on `file://` `p.getFileSystem(conf)` returns
    * whatever the JVM's first `file://` lookup asked for — a
    * checksummed, `chmod`-forking stock `LocalFileSystem` if that
    * caller lacked the session's `fs.file.impl`. On `file://` this is
    * one shared [[graft.core.BareLocalFileSystem]] whatever the cache
    * holds; other schemes go through the cache. */
  private[v2] def fileSystem(p: HPath, conf: Configuration): FileSystem = {
    val scheme = Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") localFs else p.getFileSystem(conf)
  }

  /** The one `file://` instance [[fileSystem]] hands out, built once
    * per JVM (the sites run on every statement), carrying the session's
    * pair of local filesystem bindings in its conf. */
  private lazy val localFs: FileSystem = {
    val c = withLocalFs(new Configuration())
    c.set("fs.file.impl", classOf[graft.core.BareLocalFileSystem].getName)
    val fs = new graft.core.BareLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), c)
    fs
  }

  /** `conf`, or a copy of it, binding `FileContext`'s `file` scheme to
    * [[graft.core.BareLocalFs]] for graft-delim's own I/O, whatever the
    * session set (Hadoop's default `LocalFs` writes `.crc` sidecars and
    * its no-overwrite rename is check-then-act). A cached `FileSystem`'s
    * conf is whichever conf first created it, so the pin is applied per
    * use; `FileContext` is not cached, so a context built from the
    * result keeps the `file://` generation claim a compare-and-set. */
  private[v2] def withLocalFs(conf: Configuration): Configuration = {
    val afs = classOf[graft.core.BareLocalFs].getName
    if (conf.get(graft.core.BareLocalFs.Key) == afs) conf
    else {
      val c = new Configuration(conf)
      c.set(graft.core.BareLocalFs.Key, afs)
      c
    }
  }

  /** The fs./hadoop. entries executor tasks rebuild a Configuration
    * from (defaults load executor-side; these overlay them) — ONE
    * definition for every task-shipping site. */
  private[v2] def shippableConf(conf: Configuration): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter { case (k, _) => k.startsWith("fs.") || k.startsWith("hadoop.") }
      .toMap
  }

  /** The executor-side rebuild of a [[shippableConf]] map: defaults
    * load from the executor's jars (core-default.xml), the driver's
    * shipped entries overlay them. `Configuration` itself is not
    * Serializable, so every task that opens table files starts here. */
  private[v2] def executorConf(confMap: Map[String, String]): Configuration = {
    val c = new Configuration(true)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
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
      val fs = fileSystem(hp, conf)
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
