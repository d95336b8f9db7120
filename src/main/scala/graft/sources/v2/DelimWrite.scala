package graft.sources.v2

import java.time.LocalDate

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
    DelimV2.fileSystem(staging, hc).mkdirs(staging)
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
    val fs = DelimV2.fileSystem(staging, DelimV2.driverConf())
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
    val fs = DelimV2.fileSystem(staging, DelimV2.driverConf())
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
        DelimV2.fileSystem(staging, DelimV2.driverConf()), new HPath(path))

      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
        val hc = DelimV2.driverConf()
        DelimV2.fileSystem(staging, hc).mkdirs(staging)
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
        val fs = DelimV2.fileSystem(staging, DelimV2.driverConf())
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
        val fs = DelimV2.fileSystem(staging, DelimV2.driverConf())
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
        DelimLog.create(DelimV2.executorConf(confMap), file, overwrite = true),
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
        val c = DelimV2.executorConf(confMap)
        dataStaged.flatMap { sf =>
          bloomsBySub.get(sf.subdir).map { builders =>
            val bytes = DelimBloom.serialize(
              bloomSchemaIdx.zip(builders).map { case (si, b) =>
                (schema.fieldNames(si), b.bits)
              })
            val side = new HPath(sf.path + DelimBloom.Suffix)
            val out = DelimLog.create(c, side, overwrite = true)
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
    val c = DelimV2.executorConf(confMap)
    staged.foreach { sf =>
      val p = new HPath(sf.path)
      DelimV2.fileSystem(p, c).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
