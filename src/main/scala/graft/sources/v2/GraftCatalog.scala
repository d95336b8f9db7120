package graft.sources.v2

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource-V2 `TableCatalog` for `graft-delim` tables — the SQL
  * DDL front door the reference drives through Hive
  * (`SHOW PARTITIONS`, `ALTER TABLE ... ADD|DROP PARTITION`;
  * verizon_automation_script.sh:104,138). Registered by
  * `GraftSession.builder` as `graft_cat`, so
  *
  * {{{
  *   CREATE TABLE graft_cat.default.t (...) USING graft-delim
  *     PARTITIONED BY (k) LOCATION '/data/t'
  *   SHOW PARTITIONS graft_cat.default.t
  *   ALTER TABLE graft_cat.default.t ADD PARTITION (k='v')
  *   ALTER TABLE graft_cat.default.t DROP PARTITION (k='v')
  * }}}
  *
  * run through Spark's native v2 exec nodes against the connector's
  * `k=v` directory trees. Partition IDENTITY is directory existence
  * (an added-but-empty partition lists, like Hive's); row visibility
  * stays with the snapshot manifest — DROP PARTITION swaps the
  * manifest before deleting the subtree, so concurrent readers keep
  * planning a consistent generation.
  *
  * Table metadata lives in-memory per session (the catalog is a
  * session-scoped front door over self-describing directory layouts,
  * not a metastore); the data and partition state are entirely in the
  * file tree + manifest, so a re-created table over the same location
  * sees the same partitions.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = "graft_cat"
  // keyed by (namespace COMPONENTS, table name) — a dot-joined string
  // key would make listTables(["a"]) claim a table in namespace
  // ["a","b"] (string-prefix aliasing) and collide names containing '.'
  private val tables =
    new ConcurrentHashMap[(Seq[String], String), (StructType, Seq[String], Map[String, String])]()

  private def key(ident: Identifier): (Seq[String], String) =
    (ident.namespace().toSeq, ident.name())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.toSeq
    tables.keySet().asScala.toArray.collect {
      case (kns, tname) if kns == ns => Identifier.of(namespace, tname)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val (schema, partCols, props) = Option(tables.get(key(ident)))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    val m = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    if (partCols.nonEmpty) m.put("partitionBy", partCols.mkString(","))
    new DelimPartitionedTable(schema, new CaseInsensitiveStringMap(m), partCols)
  }

  /** SQL time travel: `SELECT ... FROM graft_cat.ns.t VERSION AS OF g`
    * — the table loaded pinned to the retained snapshot
    * `_manifest.v<g>`. The DECLARED (current) schema applies; columns
    * added after generation g read null from its files via the
    * per-generation by-name mapping, and an expired generation fails
    * loudly at scan planning with the retained list.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[DelimPartitionedTable]
    t.withVersionAsOf(version)
  }

  /** SQL time travel by wall-clock: `SELECT ... FROM graft_cat.ns.t
    * TIMESTAMP AS OF ts` — Spark hands the instant as MICROSECONDS
    * since epoch (the TableCatalog contract); the read resolves it to
    * the newest retained generation whose recorded commit time is at
    * or before it (see DelimV2.asOfGen).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = loadTable(ident).asInstanceOf[DelimPartitionedTable]
    t.withReadOption("timestampAsOf",
      java.lang.Math.floorDiv(timestamp, 1000L).toString)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft-delim catalog: only identity partitioning, got $other")
    }
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-delim catalog: partition column $c not in the table schema")
    }
    // OPTIONS arrive "option."-prefixed; LOCATION as "location"
    val opts = properties.asScala.collect {
      case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v
    }.toMap
    val path = opts.getOrElse("path",
      Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(
        throw new IllegalArgumentException(
          "graft-delim catalog: LOCATION or OPTIONS(path ...) required")))
    val props = opts + ("path" -> path)
    val hp = new HPath(path)
    DelimV2.fileSystem(hp, DelimV2.driverConf()).mkdirs(hp)
    tables.put(key(ident), (schema, partCols, props))
    loadTable(ident)
  }

  /** Schema evolution DDL.
    *
    * `ADD COLUMN` appends a nullable column; existing data is
    * untouched — each generation's manifest records the writer schema
    * its files were laid out under, and readers map read columns to
    * file positions through it, so pre-evolution files read the new
    * column as null.
    *
    * `RENAME COLUMN` / `DROP COLUMN` ride STABLE FIELD IDS
    * (DelimV2.FieldIdKey in the recorded schemas): the change commits
    * a new manifest generation whose schema carries the renamed/
    * dropped field lineage — IDs retro-assigned by name inheritance
    * across the already-recorded generations when the table predates
    * the scheme — and listing-time translation maps every older
    * file's recorded names onto the current ones, so a renamed column
    * reads from every generation with ZERO rewrites and a dropped
    * column's bytes become unreachable (a later re-add of the same
    * name gets a NEW id and never captures them). Partition columns
    * reject both (the k=v directory layout carries the name on
    * disk), and a live tombstone referencing the column demands
    * OPTIMIZE first (its encoded predicate is name-keyed).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val e = Option(tables.get(key(ident)))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    var (schema, partCols, props) = e
    // commit a schema-lineage generation for a rename/drop: the
    // manifest is where field identity lives
    def commitSchemaChange(change: StructType => StructType,
        touched: String): Unit = {
      val root = new HPath(props("path"))
      val fs = DelimV2.fileSystem(root, DelimV2.driverConf())
      DelimLog.readManifest(fs, root).foreach { m =>
        m.tombstones.foreach { case (_, enc) =>
          val refs = DelimV2.tombstoneFilter(enc, schema).references
          if (refs.contains(touched))
            throw new UnsupportedOperationException(
              s"graft-delim catalog: column $touched is referenced by a " +
                "live merge-on-read delete tombstone — run OPTIMIZE " +
                "(tombstone retirement) first")
        }
        // retro-assign field IDs across the recorded lineage by
        // ascending-generation name inheritance (tables written
        // before the ID scheme), then apply the change to the latest.
        // preferRecorded: a schema that already carries IDs (committed
        // by a prior RENAME/DROP or a write under the scheme) keeps
        // them verbatim — name inheritance cannot cross a rename, and
        // re-minting would silently orphan every pre-rename
        // generation's column as __dropped_<id> (NULL on read).
        // fallback/reservedMax: a pre-scheme generation may precede an
        // ID-bearing one — its names link FORWARD to the IDs later
        // generations recorded (latest wins), and fresh mints start
        // above the whole lineage's max so they can never collide with
        // an ID a later generation keeps verbatim
        val recordedByName: Map[String, Long] =
          m.schemas.toSeq.sortBy(_._1).flatMap { case (_, ms) =>
            ms.struct.fields.flatMap(f =>
              DelimV2.fieldId(f).map(f.name -> _))
          }.toMap
        val lineageMax = m.schemas.values.flatMap(_.struct.fields)
          .flatMap(DelimV2.fieldId).foldLeft(0L)(math.max)
        var acc = Map.empty[Long, DelimLog.ManifestSchema]
        m.schemas.toSeq.sortBy(_._1).foreach { case (g, ms) =>
          acc += (g -> DelimLog.ManifestSchema(ms.partCols,
            DelimV2.assignFieldIds(ms.struct, acc, preferRecorded = true,
              fallbackByName = recordedByName, reservedMax = lineageMax)))
        }
        val latest = acc.toSeq.sortBy(_._1).lastOption.map(_._2)
          .getOrElse(DelimLog.ManifestSchema(partCols,
            DelimV2.assignFieldIds(schema, Map.empty)))
        val changed = DelimLog.ManifestSchema(latest.partCols,
          change(latest.struct))
        DelimLog.commit(fs, root, m) { (newGen, _) =>
          m.copy(schemas = acc + (newGen -> changed))
        }
      }
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft-delim catalog: nested ADD COLUMN not supported")
        val n = add.fieldNames.head
        require(!schema.fieldNames.contains(n),
          s"graft-delim catalog: column $n already exists")
        require(add.position() == null,
          "graft-delim catalog: ADD COLUMN position must be LAST " +
            "(fields map positionally within a generation)")
        schema = schema.add(StructField(n, add.dataType, nullable = true))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "graft-delim catalog: nested RENAME COLUMN not supported")
        val from = rn.fieldNames.head
        val to = rn.newName
        require(schema.fieldNames.contains(from),
          s"graft-delim catalog: no such column $from")
        require(!schema.fieldNames.contains(to),
          s"graft-delim catalog: column $to already exists")
        require(!partCols.contains(from),
          s"graft-delim catalog: cannot rename partition column $from " +
            "(the k=v directory layout carries the name on disk)")
        commitSchemaChange(st => StructType(st.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)), from)
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft-delim catalog: nested DROP COLUMN not supported")
        val n = del.fieldNames.head
        require(schema.fieldNames.contains(n),
          s"graft-delim catalog: no such column $n")
        require(!partCols.contains(n),
          s"graft-delim catalog: cannot drop partition column $n")
        require(schema.fields.count(f => !partCols.contains(f.name)) > 1,
          "graft-delim catalog: cannot drop the last data column")
        commitSchemaChange(st =>
          StructType(st.fields.filterNot(_.name == n)), n)
        schema = StructType(schema.fields.filterNot(_.name == n))
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case other => throw new UnsupportedOperationException(
        s"graft-delim catalog: unsupported ALTER TABLE change $other")
    }
    tables.put(key(ident), (schema, partCols, props))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tables.remove(key(ident)) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val e = tables.remove(key(oldIdent))
    if (e == null)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(oldIdent)
    tables.put(key(newIdent), e)
  }

  // ------------------------------------------------------ procedures

  /** Table-MAINTENANCE stored procedures (Spark 4's connector
    * procedure API — the Iceberg `CALL` convention): the operations a
    * 100 TB table needs on a schedule, reachable from pure SQL so the
    * reference's cron-driven shell loops become one statement each.
    *
    * {{{
    *   CALL graft_cat.system.optimize(table => 'default.t',
    *                                  target_file_size => 134217728)
    *   CALL graft_cat.system.expire_snapshots(table => 'default.t',
    *                                          retain => 1)
    *   CALL graft_cat.system.recover_manifest(table => 'default.t')
    * }}}
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"graft-delim catalog: procedures live in the `system` namespace, " +
          s"got ${ident.namespace().mkString(".")}.${ident.name()}")
    GraftProcedures.byName.getOrElse(ident.name(),
      throw new IllegalArgumentException(
        s"graft-delim catalog: unknown procedure ${ident.name()} " +
          s"(available: ${GraftProcedures.byName.keys.toSeq.sorted.mkString(", ")})"))
      .apply(this)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.byName.keys.toSeq.sorted
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** Resolve a procedure's `table` argument ('ns.name' or bare name →
    * default namespace) to the table's root path.
    */
  private[v2] def tableRootOf(tableArg: String): HPath =
    new HPath(tablePropsOf(tableArg)("path"))

  /** The table's stored properties (path, delimiter, quote, ...) — the
    * maintenance procedures resolve the on-disk FORMAT from these (a
    * parse-path rewrite under the wrong delimiter would corrupt the
    * rewritten files). */
  private[v2] def tablePropsOf(tableArg: String): Map[String, String] = {
    val parts = tableArg.split('.')
    val (ns, name) =
      if (parts.length == 1) (Seq("default"), parts(0))
      else (parts.dropRight(1).toSeq, parts.last)
    val e = Option(tables.get((ns, name))).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Identifier.of(ns.toArray, name)))
    e._3
  }

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default")) ||
      tables.keySet().asScala.exists(_._1.startsWith(namespace.toSeq))

  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit = ()

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft-delim catalog: ALTER NAMESPACE")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = false
}

object GraftCatalog {
  /** Conf key under which [[graft.GraftSession]] registers the catalog. */
  val Name = "graft_cat"
}

/** A catalog-managed [[DelimTable]] with native partition DDL: the
  * partition list is the `k=v` DIRECTORY tree (so an `ADD PARTITION`
  * with no rows yet still lists, Hive-style); `DROP PARTITION` swaps
  * the snapshot manifest BEFORE deleting the subtree, keeping
  * concurrent readers on a consistent generation.
  */
private[v2] class DelimPartitionedTable(
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    partCols: Seq[String])
    extends DelimTable(tableSchema, options) with SupportsPartitionManagement {

  /** Catalog tables declare a REAL schema, so Spark's own output
    * alignment (by name/position with casts) applies — and MERGE
    * INTO / UPDATE resolution against the target works (both are
    * disabled for ACCEPT_ANY_SCHEMA tables; see DelimTable).
    */
  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE WITH SCHEMA EVOLUTION` may
    // widen the table through the catalog's ADD COLUMN path — the
    // same per-generation by-name mapping that serves ALTER TABLE
    // (catalog tables only: evolution needs alterTable)
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The same table pinned to a retained snapshot (SQL VERSION AS OF). */
  private[v2] def withVersionAsOf(version: String): DelimPartitionedTable =
    withReadOption("versionAsOf", version)

  /** The same table with one extra read option (time-travel pins). */
  private[v2] def withReadOption(k: String, v: String): DelimPartitionedTable = {
    val m = new java.util.HashMap[String, String]()
    options.entrySet().forEach(e => m.put(e.getKey, e.getValue))
    m.put(k, v)
    new DelimPartitionedTable(tableSchema, new CaseInsensitiveStringMap(m), partCols)
  }

  private def root = new HPath(DelimV2.paths(options).head)
  private def fs = DelimV2.fileSystem(root, DelimV2.driverConf())

  override def partitionSchema(): StructType =
    StructType(partCols.map(c => tableSchema(c)))

  /** `k=v/...` subdirectory for a partition identifier, formatted
    * exactly as the writer lays partitions out (null → the Hive
    * default-partition token).
    */
  private def subdirOf(ident: InternalRow): String = {
    val ps = partitionSchema()
    ps.fields.zipWithIndex.map { case (f, i) =>
      val v =
        if (ident.isNullAt(i)) DelimV2.HiveDefaultPartition
        else ident.get(i, f.dataType) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case d: java.lang.Integer
              if f.dataType == org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.ofEpochDay(d.toLong).toString
          case other => other.toString
        }
      // the same layout guard the WRITER applies: a separator in a
      // partition value would silently corrupt the k=v tree (ADD with
      // pc='a/b' would mkdir a two-level path that lists as pc='a')
      if (v.exists(c => c == '/' || c == '=' || c == '\n' || c == '\r'))
        throw new IllegalArgumentException(
          s"graft-delim: partition value '$v' (column ${f.name}) " +
            "contains a path separator or '='")
      s"${f.name}=$v"
    }.mkString("/")
  }

  /** Marks a directory ADD PARTITION made: a partition with no data
    * file yet is known by it, not by its directory (see
    * [[partitionDirs]]). Hidden (`_`) from every listing and sweep.
    */
  private val AddedMarker = "_graft_partition"

  /** Root-relative `k=v/...` directories of the table's partitions.
    * With a manifest, a partition is a directory the current manifest
    * lists a file under, or one ADD PARTITION marked: a directory that
    * only holds files a retained snapshot lists — what DROP PARTITION
    * leaves inside a retention window — is no partition. Without a
    * manifest the directory tree is the table.
    */
  private def partitionDirs(): Seq[String] = {
    val manifest = DelimLog.readManifest(fs, root)
    def walk(rel: String, depth: Int): Seq[String] =
      if (depth == partCols.length) {
        if (manifest.isEmpty || fs.exists(new HPath(new HPath(root, rel), AddedMarker)))
          Seq(rel)
        else Nil
      } else Option(fs.listStatus(if (rel.isEmpty) root else new HPath(root, rel)))
        .getOrElse(Array.empty).toSeq
        .filter(_.isDirectory)
        .flatMap { st =>
          val n = st.getPath.getName
          DelimV2.partSegment(n) match {
            case Some((k, _)) if k == partCols(depth) =>
              walk(if (rel.isEmpty) n else s"$rel/$n", depth + 1)
            case _ => Nil
          }
        }
    val listed = manifest.toSeq.flatMap(_.files.map(e => DelimLog.dirOf(e.rel)))
      .filter(d => DelimV2.partValues(d).map(_._1) == partCols.toSeq)
    (walk("", 0) ++ listed).distinct
  }

  override def createPartition(
      ident: InternalRow, properties: java.util.Map[String, String]): Unit = {
    val sub = subdirOf(ident)
    if (partitionDirs().contains(sub))
      throw new org.apache.spark.sql.catalyst.analysis
        .PartitionsAlreadyExistException(name(), ident, partitionSchema())
    val d = new HPath(root, sub)
    DelimLog.create(DelimV2.driverConf(), new HPath(d, AddedMarker), overwrite = true).close()
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val sub = subdirOf(ident)
    val d = new HPath(root, sub)
    if (!partitionDirs().contains(sub)) return false
    fs.delete(new HPath(d, AddedMarker), false)
    // manifest swap FIRST: readers stop seeing the partition's rows
    // atomically; the delete that follows only reclaims bytes no
    // RETAINED snapshot references anymore. The drop commits a new
    // generation through the same claim-race detector as writes, so a
    // DROP racing a commit fails loudly instead of silently resurrecting
    // (or unlisting) files.
    DelimLog.readManifest(fs, root) match {
      case Some(m) =>
        // inside a retention window, a versionAsOf reader may still
        // plan the dropped partition's files: the commit deletes only
        // the expired ones (with their sidecars), and the directory
        // goes only once nothing retained remains under it
        val live = DelimLog.commit(fs, root, m) { (_, _) =>
          m.copy(files = m.files.filterNot(_.rel.startsWith(sub + "/")))
        }
        if (live.toSet.exists(_.startsWith(sub + "/"))) true
        else fs.delete(d, true)
      case None => fs.delete(d, true)
    }
  }

  override def replacePartitionMetadata(
      ident: InternalRow, properties: java.util.Map[String, String]): Unit = ()

  override def loadPartitionMetadata(
      ident: InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** Partition identifiers of [[partitionDirs]], optionally
    * prefix-filtered by `names`/`ident` (the
    * `SHOW PARTITIONS ... PARTITION(k=v)` form).
    */
  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    val types = ps.fields.map(_.dataType)
    val rows = partitionDirs().map { d =>
      new GenericInternalRow(DelimV2.partValues(d).zip(types).map { case ((_, raw), t) =>
        DelimV2.toInternal(DelimV2.parseExternal(raw, t), t)
      }.toArray[Any])
    }
    val nameIdx = names.map(n => partCols.indexOf(n))
    rows.filter { r =>
      nameIdx.zipWithIndex.forall { case (pi, fi) =>
        val want = ident.get(fi, types(pi))
        val got = r.get(pi, types(pi))
        (want == null && got == null) || (want != null && want == got)
      }
    }.toArray
  }
}
