package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** Stored MAINTENANCE procedures for graft-delim tables (`CALL
  * graft_cat.system.<proc>(...)` through Spark 4's connector
  * procedure API). Each is the SQL front door over an existing
  * table-format operation, so the reference's nightly-cron shell
  * loops (verizon_automation_script.sh:24-36) become one schedulable
  * statement; results come back as ONE summary row (a LocalScan), the
  * Iceberg `CALL` convention.
  *
  *  - `optimize(table, target_file_size, min_files)` — size-targeted
  *    bin-packed compaction (DelimCompact); 0 = whole-group merge.
  *  - `expire_snapshots(table, retain)` — tighten the retention
  *    window: commit a generation with the new policy, drop expired
  *    versioned manifests, and sweep data files no retained snapshot
  *    references.
  *  - `recover_manifest(table)` — roll a crashed commit's claimed
  *    generation forward (DelimLog.recoverManifest).
  *  - `snapshots(table)` — retained snapshot history (DESCRIBE
  *    HISTORY shape).
  *  - `remove_orphans(table, older_than_ms)` — delete files no
  *    retained snapshot references (crash orphans, dead staging,
  *    unclaimed manifest leftovers) behind an age guard.
  *  - `create_tag(table, tag[, version])` / `drop_tag(table, tag)` —
  *    pin a retained snapshot under a name (retention-exempt,
  *    readable via `option("tagAsOf", name)`) and release it.
  */
private[v2] object GraftProcedures {

  val byName: Map[String, GraftCatalog => UnboundProcedure] = Map(
    "optimize" -> (cat => new OptimizeProcedure(cat)),
    "expire_snapshots" -> (cat => new ExpireSnapshotsProcedure(cat)),
    "recover_manifest" -> (cat => new RecoverManifestProcedure(cat)),
    "snapshots" -> (cat => new SnapshotsProcedure(cat)),
    "remove_orphans" -> (cat => new RemoveOrphansProcedure(cat)),
    "create_tag" -> (cat => new CreateTagProcedure(cat)),
    "drop_tag" -> (cat => new DropTagProcedure(cat)))

  /** One-row result relation for a maintenance call. */
  private[v2] final case class SummaryScan(
      schema: StructType, row: Array[Any]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      Array(new GenericInternalRow(row))
  }

  /** Multi-row result relation (snapshot history). */
  private[v2] final case class RowsScan(
      schema: StructType, data: Seq[Array[Any]]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      data.map(r => new GenericInternalRow(r): InternalRow).toArray
  }

  private[v2] def param(name: String, dt: DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  private[v2] def single(scan: Scan): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(scan).iterator()
}

private[v2] abstract class GraftProcedure(procName: String)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = procName
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false // side-effecting maintenance
}

private[v2] class OptimizeProcedure(cat: GraftCatalog)
    extends GraftProcedure("optimize") {

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType),
    GraftProcedures.param("target_file_size", LongType, Some("0")),
    GraftProcedures.param("min_files", IntegerType, Some("2")))

  override def description(): String =
    "Compact a graft-delim table's small files into size-targeted bins " +
      "(target_file_size=0 merges each (partition, layout) group whole)"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val tableArg = input.getUTF8String(0).toString
    val root = cat.tableRootOf(tableArg)
    val target = if (input.isNullAt(1)) 0L else input.getLong(1)
    val minFiles = if (input.isNullAt(2)) 2 else input.getInt(2)
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val before = DelimLog.readManifest(fs, root).map(_.files.size).getOrElse(0)
    // the TABLE's line format, not the defaults: tombstone retirement
    // rewrites through the parse path, and parsing a ','-delimited
    // table with the default '|' would re-land garbage
    val opts = {
      import scala.jdk.CollectionConverters._
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        cat.tablePropsOf(tableArg).asJava)
    }
    val gen = DelimCompact.compact(SparkSession.active, root.toString,
      minFilesPerGroup = minFiles, targetFileSize = target,
      delimiter = DelimV2.delimiter(opts), quote = DelimV2.quoteChar(opts))
    val after = DelimLog.readManifest(fs, root).map(_.files.size).getOrElse(0)
    GraftProcedures.single(GraftProcedures.SummaryScan(
      StructType.fromDDL(
        "generation BIGINT, files_before INT, files_after INT"),
      Array(gen, before, after)))
  }
}

private[v2] class ExpireSnapshotsProcedure(cat: GraftCatalog)
    extends GraftProcedure("expire_snapshots") {

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType),
    GraftProcedures.param("retain", IntegerType, Some("1")))

  override def description(): String =
    "Tighten a graft-delim table's snapshot retention: keep `retain` " +
      "generations, drop expired versioned manifests, sweep unreferenced files"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val root = cat.tableRootOf(input.getUTF8String(0).toString)
    val retain = if (input.isNullAt(1)) 1 else input.getInt(1)
    require(retain >= 1,
      s"graft-delim: expire_snapshots retain must be >= 1, got $retain")
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val m = DelimLog.readManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-delim: no committed manifest at $root"))
    // the same files under a new generation with the new policy; the
    // commit prunes expired manifests and returns the must-not-delete
    // set, and the static-overwrite sweeper deletes everything outside
    // it (crash orphans included)
    val live = DelimLog.commit(fs, root, m)((_, _) => m.copy(retain = retain))
    val removed = DelimLog.sweepDead(fs, root, live)
    GraftProcedures.single(GraftProcedures.SummaryScan(
      StructType.fromDDL(
        "generation BIGINT, retained INT, deleted_files BIGINT"),
      Array(m.gen + 1, retain, removed)))
  }
}

private[v2] class SnapshotsProcedure(cat: GraftCatalog)
    extends GraftProcedure("snapshots") {

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType))

  override def description(): String =
    "The table's retained snapshot history (DESCRIBE HISTORY): one row " +
      "per retained generation — commit time, file count, recorded row " +
      "count (null when any file lacks stats), live tombstones"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val root = cat.tableRootOf(input.getUTF8String(0).toString)
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val gens = DelimLog.retainedVersions(fs, root)
    if (gens.isEmpty)
      throw new IllegalArgumentException(
        s"graft-delim: no retained snapshots at $root")
    val rows = gens.map { g =>
      val m = DelimLog.readManifestVersion(fs, root, g)
      val stats = m.files.map(e =>
        DelimV2.decodeStats(e.stats, m.schemas.get(e.gen)))
      val nRows: Any =
        if (m.files.nonEmpty && stats.forall(_.isDefined))
          stats.map(_.get.rows).sum
        else if (m.files.isEmpty) 0L
        else null
      Array[Any](g,
        if (m.ts > 0) m.ts * 1000L else null, // micros (TimestampType)
        m.files.size, nRows, m.tombstones.size,
        m.files.map(_.len).sum)
    }
    GraftProcedures.single(GraftProcedures.RowsScan(
      StructType.fromDDL(
        "generation BIGINT, committed_at TIMESTAMP, n_files INT, " +
          "n_rows BIGINT, n_tombstones INT, total_bytes BIGINT"),
      rows))
  }
}

/** `CALL graft_cat.system.remove_orphans(table, older_than_ms)` —
  * delete every file under the table root that NO retained snapshot
  * references: data files from crashed commits (promoted but never
  * manifest-listed), dead `_staging_*` directories, unclaimed
  * `_manifest.claim-*`/`.tmp-*` leftovers, and unreferenced manifest
  * segments. `older_than_ms` is the safety window (default 1 hour):
  * anything younger is presumed in-flight — a concurrent writer's
  * staged or freshly-promoted files must never be swept from under
  * its commit. Pass 0 only when no writer can be active.
  */
private[v2] class RemoveOrphansProcedure(cat: GraftCatalog)
    extends GraftProcedure("remove_orphans") {
  import org.apache.hadoop.fs.{Path => HPath}

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType),
    GraftProcedures.param("older_than_ms", LongType, Some("3600000")))

  override def description(): String =
    "Delete files no retained snapshot references (crash orphans, dead " +
      "staging, unclaimed manifest leftovers) older than the safety window"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val root = cat.tableRootOf(input.getUTF8String(0).toString)
    val grace = if (input.isNullAt(1)) 3600000L else input.getLong(1)
    require(grace >= 0L,
      s"graft-delim: remove_orphans older_than_ms must be >= 0, got $grace")
    val cutoff = System.currentTimeMillis() - grace
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val m = DelimLog.readManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-delim: no committed manifest at $root — remove_orphans " +
          "operates on manifest-committed tables"))
    // the must-not-delete universe: every rel ANY retained snapshot
    // lists, every segment file any retained index references, and
    // the manifest documents themselves
    val gens = DelimLog.retainedVersions(fs, root)
    // the current generation is already parsed in `m` — only the
    // OLDER retained snapshots need their own read
    val referencedRels: Set[String] =
      (m.files.map(_.rel) ++ gens.filter(_ != m.gen).flatMap(g =>
        DelimLog.readManifestVersion(fs, root, g).files.map(_.rel))).toSet
    val referencedSegs: Set[String] =
      ((new HPath(root, DelimLog.ManifestFile)) +:
        gens.map(g => new HPath(root, s"${DelimLog.ManifestFile}.v$g")))
        .flatMap(DelimLog.segmentNamesOf(fs, _)).toSet
    val rootUri = fs.makeQualified(root).toUri
    var deleted = 0L
    var freed = 0L
    val sweptSegs = scala.collection.mutable.HashSet.empty[String]
    def old(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= cutoff
    def drop(st: org.apache.hadoop.fs.FileStatus, recursive: Boolean): Unit = {
      freed += (if (st.isFile) st.getLen else 0L)
      fs.delete(st.getPath, recursive)
      deleted += 1
    }
    def walk(dir: HPath, isRoot: Boolean): Unit =
      Option(fs.listStatus(dir)).getOrElse(Array.empty).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (n.startsWith("_staging")) {
            // a dead write's staging tree — in-flight ones are younger
            // than the grace window
            if (old(st)) drop(st, recursive = true)
          } else if (!n.startsWith("_") && !n.startsWith(".") &&
            n.contains("="))
            walk(st.getPath, isRoot = false)
        } else if (isRoot && n.startsWith(DelimLog.ManifestFile)) {
          val isSeg = n.startsWith(s"${DelimLog.ManifestFile}.seg-")
          if (isSeg && !n.contains(".tmp-") && !referencedSegs.contains(n) &&
            old(st)) { sweptSegs += n; drop(st, recursive = false) }
          else if ((n.contains(".claim-") || n.contains(".tmp-")) && old(st))
            drop(st, recursive = false)
        } else if (!n.startsWith("_") && !n.startsWith(".")) {
          val rel = rootUri.relativize(
            fs.makeQualified(st.getPath).toUri).getPath
          if (!DelimLog.isLive(referencedRels, rel) && old(st)) drop(st, recursive = false)
        }
      }
    walk(root, isRoot = true)
    // a swept segment must leave the JVM caches too, or a later run
    // memo could vouch for a file that is gone
    DelimLog.noteSegmentsDeleted(fs, root, sweptSegs.toSet)
    GraftProcedures.single(GraftProcedures.SummaryScan(
      StructType.fromDDL("deleted BIGINT, freed_bytes BIGINT"),
      Array(deleted, freed)))
  }
}

private[v2] class RecoverManifestProcedure(cat: GraftCatalog)
    extends GraftProcedure("recover_manifest") {

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType))

  override def description(): String =
    "Roll a crashed commit's claimed generation forward onto the " +
      "current-manifest pointer (safe once no writer is active)"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val root = cat.tableRootOf(input.getUTF8String(0).toString)
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val recovered = DelimLog.recoverManifest(fs, root)
    GraftProcedures.single(GraftProcedures.SummaryScan(
      StructType.fromDDL("recovered_generation BIGINT"),
      Array(recovered.map(Long.box).orNull)))
  }
}

/** `CALL graft_cat.system.create_tag(table, tag[, version])` — pin a
  * retained snapshot under a NAME: the tagged generation's versioned
  * manifest (and with it every file and segment it references) is
  * exempt from retention expiry and the sweeps that key off it, and
  * `option("tagAsOf", name)` reads the pinned snapshot. Defaults to
  * the CURRENT generation. The tag map is a table property committed
  * through the ordinary claim/swap protocol (a racing writer aborts
  * one side loudly — never a silently half-applied tag).
  */
private[v2] class CreateTagProcedure(cat: GraftCatalog)
    extends GraftProcedure("create_tag") {

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType),
    GraftProcedures.param("tag", StringType),
    GraftProcedures.param("version", LongType, Some("CAST(NULL AS BIGINT)")))

  override def description(): String =
    "Pin a retained snapshot under a name: exempt from retention " +
      "expiry, readable via option(\"tagAsOf\", name)"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val root = cat.tableRootOf(input.getUTF8String(0).toString)
    val tag = input.getUTF8String(1).toString.trim
    require(tag.nonEmpty && !tag.contains(',') && !tag.contains(':') &&
      !tag.exists(_.isWhitespace),
      s"graft-delim: tag names must be non-empty with no ',', ':' or " +
        s"whitespace, got '$tag'")
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val m = DelimLog.readManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-delim: no committed manifest at $root"))
    val gen = if (input.isNullAt(2)) m.gen else input.getLong(2)
    require(gen == m.gen || DelimLog.retainedVersions(fs, root).contains(gen),
      s"graft-delim: generation $gen is not retained at $root — a tag " +
        "can only pin a snapshot that still exists (retained: " +
        s"${DelimLog.retainedVersions(fs, root).mkString(", ")})")
    require(!m.tags.contains(tag),
      s"graft-delim: tag '$tag' already exists (at generation " +
        s"${m.tags(tag)}) — drop_tag it first")
    DelimLog.commit(fs, root, m)((_, _) => m.copy(tags = m.tags + (tag -> gen)))
    GraftProcedures.single(GraftProcedures.SummaryScan(
      StructType.fromDDL("tag STRING, pinned_generation BIGINT, " +
        "committed_generation BIGINT"),
      Array(org.apache.spark.unsafe.types.UTF8String.fromString(tag),
        gen, m.gen + 1)))
  }
}

/** `CALL graft_cat.system.drop_tag(table, tag)` — release a snapshot
  * tag; the generation it pinned becomes subject to ordinary
  * retention at the NEXT commit (nothing is deleted here).
  */
private[v2] class DropTagProcedure(cat: GraftCatalog)
    extends GraftProcedure("drop_tag") {

  override def parameters(): Array[ProcedureParameter] = Array(
    GraftProcedures.param("table", StringType),
    GraftProcedures.param("tag", StringType))

  override def description(): String =
    "Release a snapshot tag (the pinned generation rejoins ordinary " +
      "retention at the next commit)"

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val root = cat.tableRootOf(input.getUTF8String(0).toString)
    val tag = input.getUTF8String(1).toString.trim
    val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
    val m = DelimLog.readManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-delim: no committed manifest at $root"))
    val gen = m.tags.getOrElse(tag,
      throw new IllegalArgumentException(
        s"graft-delim: no snapshot tag '$tag' on $root (tags: " +
          s"${if (m.tags.isEmpty) "<none>"
          else m.tags.keys.toSeq.sorted.mkString(", ")})"))
    DelimLog.commit(fs, root, m)((_, _) => m.copy(tags = m.tags - tag))
    GraftProcedures.single(GraftProcedures.SummaryScan(
      StructType.fromDDL("tag STRING, released_generation BIGINT"),
      Array(org.apache.spark.unsafe.types.UTF8String.fromString(tag), gen)))
  }
}
