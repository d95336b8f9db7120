package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, FSDataOutputStream, Options, Path => HPath}
import org.apache.spark.sql.types.{DataType, StructType}

/** The graft-delim table LOG: the snapshot manifest (format, parsing,
  * serialization, segments and their caches), the generation claim and
  * pointer swap, crash recovery, retention, and [[commit]] — the one
  * commit path every table mutation goes through (batch and streaming
  * writes, merge-on-read deltas, compaction, DELETE/TRUNCATE, schema
  * changes, DROP PARTITION and the maintenance procedures). No other
  * file writes `_manifest*`.
  */
private[graft] object DelimLog {

  /** SNAPSHOT MANIFEST: the committed-files list a writing job swaps in
    * atomically at commit (a `#graft-delim-manifest` header line, then
    * `length<TAB>relative/path` lines). When present at a table root,
    * readers list FROM it — a planning-time snapshot: a reader planned
    * mid-overwrite sees exactly the old or the new generation, never a
    * mix — and skip the recursive directory walk entirely (at 100 TB,
    * one small-file read instead of a namespace crawl). Directories
    * without one (legacy layouts, text fixtures) fall back to the
    * recursive listing.
    *
    * CONCURRENCY CONTRACT: the commit sequence is read-modify-write on
    * the previous snapshot, made safe by the generation claim (see
    * [[commit]]): of two committers that read the same snapshot (two
    * appends, a batch job racing a streaming epoch, a commit racing a
    * DROP PARTITION), one fails loudly and rolls back instead of
    * silently unlisting the other's files. Retrying the loser is the
    * caller's job.
    */
  val ManifestFile = "_manifest"

  /** One committed data file: byte length, the GENERATION whose commit
    * wrote it (keys the writer schema its lines were laid out under —
    * the schema-evolution contract), the table-root-relative path, and
    * the file's encoded column STATS (min/max/null-count per pushable
    * column, recorded by the writer — the data-skipping index; empty =
    * none).
    */
  private[graft] final case class ManifestEntry(
      len: Long, gen: Long, rel: String, stats: String = "")

  /** The writer schema of one generation: the full write schema
    * (including partition columns) plus which of its fields were
    * partition columns — the non-partition fields, in schema order,
    * are the file's POSITIONAL field layout.
    */
  private[graft] final case class ManifestSchema(
      partCols: Seq[String], struct: StructType)

  /** The committed snapshot: file entries, the MULTILINE flag (true
    * when any live file contains quoted newlines, so readers engage
    * quote-aware whole-file framing automatically), the snapshot
    * GENERATION (monotonic; each commit claims gen+1 via a
    * create-no-overwrite versioned manifest — the conflict detector),
    * the RETENTION policy (how many generations' manifests + files are
    * kept for time travel; a table property carried forward by every
    * commit), and the per-generation writer SCHEMAS for the
    * generations that still own live files.
    */
  private[graft] final case class DelimManifest(
      files: Seq[ManifestEntry], multiLine: Boolean,
      gen: Long = 0L, retain: Int = 1,
      schemas: Map[Long, ManifestSchema] = Map.empty,
      /** Commit wall-clock (epoch millis; 0 = pre-timestamp manifest) —
        * stamped by commitManifest, resolved by `timestampAsOf`. */
      ts: Long = 0L,
      /** MERGE-ON-READ delete TOMBSTONES: (generation recorded,
        * encoded predicate conjunction). A DELETE whose condition is
        * fully pushable commits one of these instead of rewriting the
        * matched files (copy-on-write amplifies a 10-row correction
        * into a full-file rewrite at 100 TB); scans apply the
        * complement per row, but ONLY to files whose generation is at
        * or before the tombstone's — rows written after the delete are
        * never affected (the resurrection/re-delete hazard). Encoding:
        * `;`-joined leaves, each `op:col:value...` with %-escaping
        * (see encodeTombstone).
        */
      tombstones: Seq[(Long, String)] = Nil,
      /** Columns some generation wrote bloom sidecars for — readers
        * probe `<file>.bloom` for equality filters on these (a file
        * written without one simply cannot skip). Header-level so
        * un-bloomed tables never pay a sidecar existence check. */
      bloomCols: Seq[String] = Nil,
      /** Manifest SEGMENTATION threshold (0 = single-document). When
        * set and the snapshot holds >= segSize entries, the committed
        * `_manifest.v<gen>` is a small INDEX of immutable
        * content-addressed SEGMENT files (entries grouped per leaf
        * partition directory, chunked every segSize) — a commit
        * writes only the segments whose membership changed plus the
        * index, and planning loads only the segments partition
        * pruning keeps. The single-document design serializes every
        * live entry on every commit, which caps the table at ~100k
        * entries while 100 TB implies ~800k (STRESS §15). A table
        * property carried forward by every commit like `retain`. */
      segSize: Int = 0,
      /** Segments in a SEGMENTED index and how many this instance
        * loaded (0/0 single-document). Fewer loaded = SEGMENT PRUNING
        * (only the segments a scan's partition predicate kept): a
        * planning artifact that commitManifest rejects, since
        * committing it would silently drop the pruned-away files. */
      segsIndexed: Int = 0, segsLoaded: Int = 0,
      /** Named snapshot TAGS (tag → generation): a tagged generation's
        * versioned manifest — and with it every file and segment that
        * snapshot references — is EXEMPT from retention expiry and the
        * sweeps that key off it, pinning the snapshot for audits and
        * reproducible reads (`tagAsOf` resolves a tag to its
        * generation). A table property carried forward by every
        * commit like `retain`; CALL create_tag/drop_tag manage it. */
      tags: Map[String, Long] = Map.empty) {
    def entries: Seq[(Long, String)] = files.map(e => (e.len, e.rel))
    def pruned: Boolean = segsLoaded != segsIndexed
  }

  /** One segment reference in a segmented manifest INDEX: immutable
    * content-addressed file name, entry count, and the lexicographic
    * [minRel, maxRel] range of its entries — the per-segment metadata
    * partition pruning decides on without loading the segment.
    */
  private[graft] final case class SegRef(
      name: String, count: Int, minRel: String, maxRel: String)

  /** The directory part of a root-relative path ("" at the root) — a
    * file's leaf partition directory. */
  private[graft] def dirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Parsed-segment cache: content-addressed segment files are
    * immutable, so a (qualified path → entries) mapping can never go
    * stale — repeated plans and append commits re-read only the index
    * and any segments they have not seen. Crudely bounded: a full
    * clear past the cap beats an LRU's locking here.
    */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ManifestEntry]]()
  private val SegCacheCap = 4096

  /** Drop the parsed-segment and known-on-disk caches — the stress
    * sweep's cold-path protocol (a fresh driver pays the disk parse). */
  private[graft] def clearSegCaches(): Unit = {
    segCache.clear(); runChunkCache.clear()
  }

  private def parseEntryLine(
      l: String, bad: (String, String) => Nothing): ManifestEntry = {
    val parts = l.split('\t')
    try parts.length match {
      case 2 => ManifestEntry(parts(0).toLong, 0L, parts(1))
      case 3 => ManifestEntry(parts(0).toLong, parts(1).toLong, parts(2))
      case 4 => ManifestEntry(parts(0).toLong, parts(1).toLong,
        parts(2), parts(3))
      case _ => bad(l, "line")
    } catch { case _: NumberFormatException => bad(l, "length") }
  }

  /** Parse one manifest FILE (current or versioned), or None when
    * absent. Accepts both the v1 format (`len\trel` entries, no
    * generations) and v2 (`len\tgen\trel` entries, `#schema` lines,
    * gen/retain header attributes). Malformed content (e.g. a FOREIGN
    * file that happens to be named `_manifest`) fails loudly with the
    * path in the message — silently treating it as an empty snapshot
    * would hide the table.
    */
  private[graft] def readManifestFile(
      fs: FileSystem, mf: HPath,
      prune: Seq[(String, Seq[String])] = Nil): Option[DelimManifest] = {
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      try {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        var multi = false
        var gen = 0L
        var retain = 1
        var ts = 0L
        var segSize = 0
        var schemas = Map.empty[Long, ManifestSchema]
        var tombs = Vector.empty[(Long, String)]
        var bloomCols = Seq.empty[String]
        var tags = Map.empty[String, Long]
        var segRefs = Vector.empty[SegRef]
        def bad(l: String, what: String): Nothing =
          throw new IllegalStateException(
            s"graft-delim: malformed manifest $what in $mf: '${l.take(80)}'" +
              " (a foreign file named _manifest?)")
        val entries = src.getLines().filter(_.nonEmpty).flatMap { l =>
          if (l.startsWith("#schema\t")) {
            val parts = l.split('\t')
            if (parts.length != 4) bad(l, "schema line")
            val pc = parts(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
            val st =
              try DataType.fromJson(parts(3)).asInstanceOf[StructType]
              catch { case scala.util.control.NonFatal(_) => bad(l, "schema json") }
            schemas += (parts(1).toLong -> ManifestSchema(pc, st))
            None
          } else if (l.startsWith("#tombstone\t")) {
            val parts = l.split('\t')
            if (parts.length != 3) bad(l, "tombstone line")
            tombs :+= (parts(1).toLong -> parts(2))
            None
          } else if (l.startsWith("#segment\t")) {
            val parts = l.split('\t')
            if (parts.length != 5) bad(l, "segment line")
            try segRefs :+= SegRef(parts(1), parts(2).toInt, parts(3), parts(4))
            catch { case _: NumberFormatException => bad(l, "segment count") }
            None
          } else if (l.startsWith("#")) {
            if (l.contains("multiline=true")) multi = true
            l.split(' ').foreach { a =>
              if (a.startsWith("gen=")) gen = a.stripPrefix("gen=").toLong
              if (a.startsWith("retain=")) retain = a.stripPrefix("retain=").toInt
              if (a.startsWith("ts=")) ts = a.stripPrefix("ts=").toLong
              if (a.startsWith("segsize=")) segSize = a.stripPrefix("segsize=").toInt
              if (a.startsWith("bloomcols=")) bloomCols =
                a.stripPrefix("bloomcols=").split(',').toSeq
                  .map(DelimV2.statUnesc).filter(_.nonEmpty)
              if (a.startsWith("tags=")) tags =
                a.stripPrefix("tags=").split(',').toSeq
                  .flatMap { t =>
                    val c = t.lastIndexOf(':')
                    if (c <= 0) None
                    else try Some(DelimV2.statUnesc(t.substring(0, c)) ->
                      t.substring(c + 1).toLong)
                    catch { case _: NumberFormatException => None }
                  }.toMap
            }
            None
          } else {
            Some(parseEntryLine(l, bad))
          }
        }.toList
        if (segRefs.isEmpty)
          Some(DelimManifest(entries, multi, gen, retain, schemas, ts, tombs,
            bloomCols, segSize, tags = tags))
        else {
          // SEGMENTED index: load entries from the referenced segment
          // files — only those a pushed partition equality keeps. A
          // segment spans exactly ONE leaf partition directory
          // (ensureSegments chunks per-dir runs), so its full k=v map
          // reads straight off the rel paths and ANY candidate
          // column prunes — not just the leading one (round-20;
          // round 19's lexicographic range test was first-column-
          // only, so a k1=/k2= table filtered on k2 loaded every
          // segment). A segment whose min/max dirs differ (foreign
          // layout) or whose dir lacks the candidate column is KEPT
          // (conservative: file-level pruning still applies); the
          // candidate value strings are the same raw dir-text forms
          // the file-level compare uses, so pruning here can never
          // drop a file the pushed filters would keep.
          val root = mf.getParent
          val selected =
            if (prune.isEmpty || tombs.nonEmpty) segRefs
            else segRefs.filter { r =>
              val d = dirOf(r.minRel)
              if (d != dirOf(r.maxRel)) true
              else {
                val kv = d.split('/').flatMap { seg =>
                  val eq = seg.indexOf('=')
                  if (eq <= 0) None
                  else Some(seg.substring(0, eq) -> seg.substring(eq + 1))
                }.toMap
                prune.forall { case (c, vs) =>
                  kv.get(c).forall(vs.contains)
                }
              }
            }
          val segEntries = selected.flatMap { r =>
            val sp = new HPath(root, r.name)
            val key = fs.makeQualified(sp).toUri.toString
            Option(segCache.get(key)).getOrElse {
              val sin = fs.open(sp)
              val es =
                try scala.io.Source.fromInputStream(sin, "UTF-8")
                  .getLines().filter(_.nonEmpty)
                  .map(parseEntryLine(_, bad)).toList
                finally sin.close()
              if (es.size != r.count)
                bad(r.name, s"segment (expected ${r.count} entries, read ${es.size})")
              if (segCache.size > SegCacheCap) segCache.clear()
              segCache.put(key, es)
              es
            }
          }
          Some(DelimManifest(entries ++ segEntries, multi, gen, retain,
            schemas, ts, tombs, bloomCols, segSize,
            segsIndexed = segRefs.size, segsLoaded = selected.size,
            tags = tags))
        }
      } finally in.close()
    }
  }

  /** The CURRENT committed snapshot at a table root, or None.
    *
    * SWAP-WINDOW GUARD: the pointer swap is a rename-with-overwrite,
    * which on rename-non-atomic filesystems (Hadoop's stock local
    * `FileContext` deletes the destination first) exposes a
    * sub-millisecond NO-POINTER window. A missing `_manifest` beside
    * existing versioned manifests therefore means "mid-swap or crashed
    * between claim and swap", never "not a manifest table" — fall back
    * to the HIGHEST versioned manifest, which is always a consistent
    * snapshot (a claimed generation's files are promoted before the
    * claim), instead of degrading to the recursive listing (which
    * would see a MIX of generations — the exact window the manifest
    * exists to close). This also makes a crashed claim self-heal: the
    * next committer reads the claimed snapshot, claims the successor,
    * and its own pointer swap completes the dead commit.
    */
  private[graft] def readManifest(
      fs: FileSystem, target: HPath,
      prune: Seq[(String, Seq[String])] = Nil): Option[DelimManifest] =
    readManifestFile(fs, new HPath(target, ManifestFile), prune).orElse {
      retainedVersions(fs, target).maxOption.flatMap(g =>
        readManifestFile(fs, new HPath(target, s"$ManifestFile.v$g"), prune))
    }

  /** A RETAINED historical snapshot: `_manifest.v<gen>`, kept for the
    * table's retention window to serve `option("versionAsOf", gen)`
    * reads. Fails loudly (listing what IS retained) rather than
    * silently falling back to the live generation.
    */
  private[graft] def readManifestVersion(
      fs: FileSystem, target: HPath, gen: Long,
      prune: Seq[(String, Seq[String])] = Nil): DelimManifest =
    readManifestFile(fs, new HPath(target, s"$ManifestFile.v$gen"), prune)
      .getOrElse {
      val have = retainedVersions(fs, target)
      throw new IllegalArgumentException(
        s"graft-delim: versionAsOf=$gen not retained at $target " +
          s"(retained generations: ${if (have.isEmpty) "none" else have.mkString(", ")})")
    }

  /** Generations with a retained versioned manifest, ascending. */
  private[graft] def retainedVersions(fs: FileSystem, target: HPath): Seq[Long] =
    Option(fs.globStatus(new HPath(target, s"$ManifestFile.v*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        val s = st.getPath.getName.stripPrefix(s"$ManifestFile.v")
        try Some(s.toLong) catch { case _: NumberFormatException => None }
      }.sorted

  private def appendEntryLine(
      sb: java.lang.StringBuilder, e: ManifestEntry): Unit = {
    sb.append(s"${e.len}\t${e.gen}\t${e.rel}")
    if (e.stats.nonEmpty) sb.append('\t').append(e.stats)
    sb.append('\n')
  }

  private def headerAndMeta(m: DelimManifest): java.lang.StringBuilder = {
    val sb = new java.lang.StringBuilder(64 + m.files.size * 48)
    sb.append(s"#graft-delim-manifest v2 multiline=${m.multiLine}" +
      s" gen=${m.gen} retain=${m.retain}" +
      (if (m.ts > 0) s" ts=${m.ts}" else "") +
      (if (m.segSize > 0) s" segsize=${m.segSize}" else "") +
      (if (m.bloomCols.nonEmpty)
        s" bloomcols=${m.bloomCols.map(DelimV2.statEsc).mkString(",")}" else "") +
      (if (m.tags.nonEmpty)
        s" tags=${m.tags.toSeq.sortBy(_._1)
          .map { case (n, g) => s"${DelimV2.statEsc(n)}:$g" }.mkString(",")}"
      else "") +
      "\n")
    val liveGens = m.files.map(_.gen).toSet
    m.schemas.toSeq.sortBy(_._1).foreach { case (g, sch) =>
      if (liveGens.contains(g) || g == m.gen) // GC schemas of dead generations
        sb.append(s"#schema\t$g\t${sch.partCols.mkString(",")}\t${sch.struct.json}\n")
    }
    // GC tombstones no live file can still match: a tombstone applies
    // only to files at or before its generation, so once every live
    // file is newer it is inert forever (static overwrite and full
    // compaction cycles clear them automatically)
    m.tombstones.foreach { case (g, enc) =>
      if (m.files.exists(_.gen <= g))
        sb.append(s"#tombstone\t$g\t$enc\n")
    }
    sb
  }

  private def serializeManifest(m: DelimManifest): Array[Byte] = {
    val sb = headerAndMeta(m)
    m.files.foreach(appendEntryLine(sb, _))
    sb.toString.getBytes(Utf8)
  }

  /** Prefix a segment file name must carry — underscore-prefixed so
    * listings ignore segments like the manifest itself. */
  private[graft] val SegPrefix = s"$ManifestFile.seg-"

  private val Utf8 = scala.io.Codec.UTF8.charSet

  // ------------------------------------------------------ file landing
  //
  // Every graft-delim file lands through FileContext, on every scheme:
  // data files, bloom sidecars, compaction output, manifest segments,
  // the generation claim and the pointer. On file:// the context binds
  // core.BareLocalFs (DelimV2.withLocalFs pins it), which forks nothing
  // and writes no `.crc` sidecar.

  private def fileContext(conf: Configuration, p: HPath): FileContext = {
    val c = DelimV2.withLocalFs(conf)
    if (p.toUri.getScheme == null) FileContext.getFileContext(c)
    else FileContext.getFileContext(p.toUri, c)
  }

  private def create(fc: FileContext, file: HPath, overwrite: Boolean): FSDataOutputStream =
    fc.create(file,
      if (overwrite) java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
      else java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())

  /** Create `file`, parents included. */
  private[v2] def create(conf: Configuration, file: HPath, overwrite: Boolean): FSDataOutputStream =
    create(fileContext(conf, file), file, overwrite)

  /** Land `bytes` at `dst` whole: write a tmp sibling named `tmpName`
    * plus a random suffix, then rename it onto `dst` — replacing it
    * (`replace`), or as a compare-and-set that throws Hadoop's
    * `FileAlreadyExistsException` when `dst` exists. Either way `dst`
    * is complete from its first visible instant; a failed rename
    * removes the tmp file. */
  private def landWhole(fs: FileSystem, dst: HPath, tmpName: String,
      bytes: Array[Byte], replace: Boolean): Unit = {
    val fc = fileContext(fs.getConf, dst)
    val tmp = new HPath(dst.getParent,
      s"$tmpName-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = create(fc, tmp, overwrite = true)
    try out.write(bytes) finally out.close()
    try fc.rename(tmp, dst,
      if (replace) Options.Rename.OVERWRITE else Options.Rename.NONE)
    catch { case scala.util.control.NonFatal(e) => fc.delete(tmp, false); throw e }
  }

  /** Per-RUN chunking memo: (table, partition dir) → the run's exact
    * entry list and its segment refs from the last commit in this
    * JVM. A nightly-load commit changes one or two partitions; every
    * other run's membership is EXACTLY the previous commit's, so its
    * chunks need no re-serialization, no hashing, and no existence
    * probes — the equality check against the cached entries (cheap:
    * case-class equality, reference-equal fast path) is what makes
    * commits O(changed partitions) instead of O(table). Entries are
    * stored by reference; the memory cost is pointers, not copies.
    */
  private val runChunkCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[ManifestEntry], Seq[SegRef])]()
  private val RunCacheCap = 131072
  /** Last generation this JVM committed per table root — the
    * lineage-reset detector (see commitManifest). */
  private val lastGenSeen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Cache eviction for EXTERNAL segment deletions (remove_orphans):
    * drop the parsed entries and any run memo vouching for a deleted
    * chunk — a later commit must re-prove existence, not trust a
    * memo of a file that is gone. */
  private[v2] def noteSegmentsDeleted(
      fs: FileSystem, target: HPath, names: Set[String]): Unit = {
    if (names.isEmpty) return
    val tableKey = fs.makeQualified(target).toUri.toString
    names.foreach(n => segCache.remove(s"$tableKey/$n"))
    runChunkCache.entrySet().removeIf(e =>
      e.getKey.startsWith(tableKey + "\u0000") &&
        e.getValue._2.exists(r => names.contains(r.name)))
  }

  /** Deterministic, append-localized chunking: entries grouped into
    * RUNS per leaf partition directory, each run sorted by rel and
    * split every segSize entries. A commit touching one partition
    * changes only that partition's chunks; every other run hits the
    * memo (or, cache-cold, serializes to identical bytes → identical
    * content hash → the already-landed segment file is reused without
    * a write). Returns the index's segment references in run order
    * (runs sorted by directory, entries sorted within each run — so
    * each SegRef's [minRel, maxRel] brackets its entries exactly).
    */
  private def ensureSegments(
      fs: FileSystem, target: HPath, m: DelimManifest): Seq[SegRef] = {
    val tableKey = fs.makeQualified(target).toUri.toString
    // group by leaf partition directory WITHOUT a global sort: the
    // memo is checked against each run's ARRIVAL order (stable across
    // commits -- a snapshot's entries are the previous index's order
    // plus appended entries), so an unchanged run pays one O(n)
    // equality walk and nothing else: no sort, no serialization, no
    // hashing, no filesystem probes. Only changed runs sort + chunk.
    val byDir = m.files.groupBy(e => dirOf(e.rel))
    val refs = Vector.newBuilder[SegRef]
    byDir.keys.toSeq.sorted.foreach { runDir =>
      val es0 = byDir(runDir)
      val memoKey = tableKey + "\u0000" + runDir
      val memo = runChunkCache.get(memoKey)
      if (memo != null && memo._1 == es0) refs ++= memo._2
      else {
        val es = es0.sortBy(_.rel)(Ordering.String)
        val runRefs = Vector.newBuilder[SegRef]
        es.grouped(m.segSize).foreach { chunk =>
          val sb = new java.lang.StringBuilder(chunk.size * 48)
          chunk.foreach(appendEntryLine(sb, _))
          val bytes = sb.toString.getBytes(Utf8)
          val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          val hex = md.take(8).map(b => f"${b & 0xff}%02x").mkString
          val name = s"$SegPrefix$hex-${chunk.size}"
          val sp = new HPath(target, name)
          val key = fs.makeQualified(sp).toUri.toString
          // content-addressed: a concurrent commit landing the SAME
          // chunk races benignly (identical bytes)
          if (!fs.exists(sp))
            try landWhole(fs, sp, s"$name.tmp", bytes, replace = false)
            catch { case _: FileAlreadyExistsException => () }
          if (segCache.size > SegCacheCap) segCache.clear()
          segCache.put(key, chunk)
          runRefs += SegRef(name, chunk.size, chunk.head.rel, chunk.last.rel)
        }
        val rr = runRefs.result()
        if (runChunkCache.size > RunCacheCap) runChunkCache.clear()
        runChunkCache.put(memoKey, (es0, rr))
        refs ++= rr
      }
    }
    refs.result()
  }

  private def serializeIndex(
      m: DelimManifest, refs: Seq[SegRef]): Array[Byte] = {
    val sb = headerAndMeta(m)
    refs.foreach(r =>
      sb.append(s"#segment\t${r.name}\t${r.count}\t${r.minRel}\t${r.maxRel}\n"))
    sb.toString.getBytes(Utf8)
  }

  /** The committed document for this snapshot: the segmented INDEX
    * (landing any missing segment files as a side effect) once the
    * table is past its threshold, else the single inline document.
    */
  private def manifestBytes(
      fs: FileSystem, target: HPath, m: DelimManifest): Array[Byte] =
    if (m.segSize > 0 && m.files.size >= m.segSize)
      serializeIndex(m, ensureSegments(fs, target, m))
    else serializeManifest(m)

  /** Atomically swap the CURRENT manifest pointer: a tmp file renamed
    * over it — atomic on HDFS and the local FS, so there is neither a
    * partial-manifest nor a missing-manifest window (a delete+rename
    * pair would expose the fallback listing — and with it a mixed
    * generation — between the two calls).
    */
  private def swapCurrentManifest(
      fs: FileSystem, target: HPath, bytes: Array[Byte]): Unit =
    landWhole(fs, new HPath(target, ManifestFile), s"$ManifestFile.tmp", bytes,
      replace = true)

  /** Raw bytes of an existing manifest document — the pointer swap and
    * crash recovery copy the claimed version VERBATIM (re-serializing
    * a parsed snapshot would inline a segmented index). */
  private def readRawManifest(fs: FileSystem, mf: HPath): Array[Byte] = {
    val len = fs.getFileStatus(mf).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(mf)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Must-not-delete set returned by commitManifest, materialized
    * LAZILY: building a Set over every live rel is an O(table) driver
    * pass per commit, and append commits never consult the result —
    * only overwrite sweeps, truncates, and compaction's replaced-file
    * cleanup do (they pay the build exactly when they need it).
    */
  final class LiveFileSet(thunk: () => Set[String])
      extends (String => Boolean) {
    lazy val toSet: Set[String] = thunk()
    def contains(rel: String): Boolean = toSet.contains(rel)
    override def apply(rel: String): Boolean = toSet.contains(rel)
  }

  /** COMMIT a new generation — the concurrency-safe sequence:
    *  1. CAS: create `_manifest.v<gen>` with create-NO-overwrite (an
    *     atomic claim of the generation number). Two committers that
    *     both read generation G race to create `.v(G+1)`; the loser's
    *     create throws and its commit FAILS LOUDLY — never the silent
    *     last-writer-wins file loss of a bare read-modify-write.
    *  2. Swap the CURRENT `_manifest` pointer atomically (readers flip
    *     from exactly the old snapshot to exactly the new one).
    *  3. Retention: delete versioned manifests older than the window
    *     (`retain` generations, counting this one).
    * A crash between 1 and 2 leaves an orphan `.v(G+1)` that blocks
    * the NEXT commit with the same loud error — recover with
    * [[recoverManifest]] (roll the current pointer forward) once no
    * writer is active. Returns the set of file paths referenced by ANY
    * retained snapshot (the commit's must-not-delete set).
    */
  private[graft] def commitManifest(
      fs: FileSystem, target: HPath, m0: DelimManifest): LiveFileSet = {
    // stamp the commit wall-clock: timestampAsOf resolves against it.
    // Clamped monotonic per table would need the previous ts threaded
    // through every caller; millis skew between successive commits on
    // one box is below the resolution story's granularity.
    require(!m0.pruned,
      "graft-delim: refusing to commit a SEGMENT-PRUNED snapshot — " +
        "it lists only the files a partition predicate kept; " +
        "committing it would silently unlist the rest of the table")
    val m = m0.copy(ts = math.max(System.currentTimeMillis(), 1L))
    // LINEAGE-RESET detector: a commit whose generation is not above
    // the last one this JVM committed for the same root means the
    // table was recreated externally (rmTree + rebuild restarts at
    // gen 1) — the per-run chunk memo would then vouch for segment
    // files that no longer exist. Purge the table's memo entries.
    val tableKey = fs.makeQualified(target).toUri.toString
    val lastGen = lastGenSeen.put(tableKey, m.gen)
    if (lastGen != null && m.gen <= lastGen)
      runChunkCache.keySet.removeIf(_.startsWith(tableKey + "\u0000"))
    // the claimed document and the pointer carry IDENTICAL bytes; for
    // a segmented table this also lands any new segment files first
    // (unreferenced until the claim succeeds — a failed claim leaves
    // only unreferenced content-addressed files the next commit's
    // segment GC sweeps)
    // stamp BEFORE the segments start landing: until the generation
    // claim below succeeds they are UNREFERENCED, and a concurrent
    // commit's segment GC (or remove_orphans) sweeps unreferenced
    // chunks older than the grace window — the vulnerable window opens
    // when the FIRST chunk lands (a slow ensureSegments can itself
    // outlive the grace), so the re-verify gate below measures from
    // here, not from when landing finished
    val tLand = System.currentTimeMillis()
    // segment GC GRACE WINDOW: a reader that opened the pointer just
    // before this commit may still be loading the OLD index's segments
    // — deleting them instantly would turn a bounded snapshot race into
    // a FileNotFound mid-plan. Unreferenced chunks linger for the
    // window (harmless garbage), then the next commit or remove_orphans
    // sweeps them; the re-verify gate below fires at half of it.
    // Tests/stress pin it to 0.
    val graceMs = sys.props.get("graft.segment.gc.graceMs")
      .map(_.toLong).getOrElse(600000L)
    val bytes = manifestBytes(fs, target, m)
    val vf = new HPath(target, s"$ManifestFile.v${m.gen}")
    // the claim lands as tmp + rename-NO-OVERWRITE: an atomic
    // compare-and-set on the generation number (link(2) on file://, see
    // core.BareLocalFs), and the claimed file is COMPLETE from its first
    // visible instant — a bare create would expose a partially-written
    // snapshot to the swap-window fallback readers
    try landWhole(fs, vf, s"$ManifestFile.claim", bytes, replace = false)
    catch {
      case _: FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"graft-delim: generation ${m.gen} already claimed at $target — " +
            "either a concurrent committer won the race (re-run this job " +
            "against the new snapshot) or a previous commit crashed between " +
            "its version claim and the pointer swap (run " +
            "DelimLog.recoverManifest once no writer is active)")
    }
    // GC-RACE RE-VERIFY: the claim above now references this commit's
    // segments (protected from every future sweep), but a sweep that
    // ran while they were still unreferenced — this commit stalled
    // past the grace window between landing them and claiming, or a
    // cross-process remove_orphans whose memo eviction we never saw —
    // already deleted them, and the claimed index would point at
    // missing files. Gated on elapsed time so the common fast commit
    // pays ZERO extra I/O; on the rare slow path, fs.exists-walk the
    // claimed refs and re-land any missing chunk (content-addressed →
    // the rebuild is byte-identical and deterministic).
    if (m.segSize > 0 && m.files.size >= m.segSize) {
      if (System.currentTimeMillis() - tLand >= graceMs / 2) {
        val refs = segmentNamesOf(fs, vf)
        if (refs.exists(n => !fs.exists(new HPath(target, n)))) {
          runChunkCache.keySet.removeIf(_.startsWith(tableKey + "\u0000"))
          refs.foreach(n => segCache.remove(
            fs.makeQualified(new HPath(target, n)).toUri.toString))
          val relanded = ensureSegments(fs, target, m).map(_.name).toSet
          require(refs.forall(relanded.contains),
            s"graft-delim: segment re-land after a GC race produced a " +
              s"different chunk set at $target — claimed " +
              s"${refs.mkString(",")} vs relanded ${relanded.mkString(",")}")
        }
      }
    }
    // never swap the pointer BACKWARD: if a higher generation is
    // already claimed (a successor committer built on this snapshot
    // through the swap-window fallback while this commit was between
    // claim and swap), its pointer swap supersedes ours — writing ours
    // would regress the pointer below a durable commit
    if (retainedVersions(fs, target).max == m.gen)
      swapCurrentManifest(fs, target, bytes)
    // the guard above is check-then-act: a successor can claim (and
    // swap) between our max-check and our rename, after which our
    // rename regressed the pointer below a durable commit — re-check
    // and roll the pointer forward onto the highest claim (the same
    // self-heal recoverManifest performs after a crash). One pass
    // shrinks the exposure from the whole swap duration to
    // recoverManifest's own read-swap window; the successor's commit
    // runs the same pass, so a residual regression heals at the next
    // commit rather than wedging claim collisions forever.
    recoverManifest(fs, target)
    val floor = m.gen - math.max(m.retain, 1) + 1
    // TAGGED generations are exempt from retention expiry: keeping the
    // versioned manifest is what pins the snapshot — the LiveFileSet,
    // the dead-file sweeps, and the segment GC all derive their
    // must-keep sets from the versioned manifests present on disk, so
    // sparing the one file spares everything it references
    val tagged = m.tags.values.toSet
    retainedVersions(fs, target)
      .filter(g => g < floor && !tagged.contains(g)).foreach { g =>
        fs.delete(new HPath(target, s"$ManifestFile.v$g"), false)
      }
    // must-not-delete set: every file some retained snapshot still
    // references (time travel reads plan from those snapshots) —
    // resolved lazily inside the LiveFileSet below
    lazy val retained = retainedVersions(fs, target).filter(_ != m.gen)
      .flatMap(g => readManifestFile(fs, new HPath(target, s"$ManifestFile.v$g")))
    // SEGMENT GC: a content-addressed segment referenced by NO
    // retained snapshot is dead — a replaced chunk whose last
    // referencing generation just expired, or a crash-orphaned claim's
    // leftovers. Safe against concurrent committers: any commit in
    // flight right now either bases on a retained snapshot (and so
    // reuses only segments that snapshot references — kept here) or
    // will lose the generation-claim CAS and recompute from scratch.
    if (m.segSize > 0) {
      val referenced = retainedVersions(fs, target)
        .map(g => new HPath(target, s"$ManifestFile.v$g"))
        .flatMap(segmentNamesCached(fs, _)).toSet
      val cutoff = System.currentTimeMillis() - graceMs
      val swept = scala.collection.mutable.HashSet.empty[String]
      Option(fs.globStatus(new HPath(target, s"$SegPrefix*")))
        .map(_.toSeq).getOrElse(Nil).foreach { st =>
          val n = st.getPath.getName
          if (!referenced.contains(n) && !n.contains(".tmp-") &&
            st.getModificationTime <= cutoff) {
            fs.delete(st.getPath, false)
            segCache.remove(fs.makeQualified(st.getPath).toUri.toString)
            swept += n
          }
        }
      // the run memo may still point at a swept chunk (a run whose
      // membership reverts to an expired state would otherwise reuse
      // a deleted file) — drop EXACTLY the memo entries referencing
      // one; the untouched partitions' memos survive, which is what
      // keeps commits O(changed partitions)
      if (swept.nonEmpty) {
        val pfx = fs.makeQualified(target).toUri.toString + "\u0000"
        runChunkCache.entrySet().removeIf(e =>
          e.getKey.startsWith(pfx) &&
            e.getValue._2.exists(r => swept.contains(r.name)))
      }
    }
    new LiveFileSet(() =>
      (m.files.map(_.rel) ++ retained.flatMap(_.files.map(_.rel))).toSet)
  }

  /** A manifest document's HEADER line (line 1, `#`-prefixed), or None
    * when the document is absent or headerless — the one-line read the
    * header probes below share, never loading entries or segments. */
  private def headerLine(fs: FileSystem, mf: HPath): Option[String] =
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      try Option(new java.io.BufferedReader(new java.io.InputStreamReader(in,
        Utf8)).readLine())
        .filter(_.startsWith("#"))
      finally in.close()
    }

  /** The generation in a manifest document's header. None when absent
    * or unreadable (a torn pointer mid-swap reads as "needs recovery",
    * which the caller's roll-forward handles). */
  private def manifestGenOf(fs: FileSystem, mf: HPath): Option[Long] =
    try headerLine(fs, mf).flatMap(_.split(' ').collectFirst {
      case a if a.startsWith("gen=") => a.stripPrefix("gen=").toLong
    })
    catch { case scala.util.control.NonFatal(_) => None }

  /** The table's bloom columns from the pointer's header — for writers
    * that need only the bloom config (the delta writer factory
    * previously parsed the full manifest, segments and all, once per
    * MERGE just to learn this). Nil on a missing/torn pointer: blooms
    * are an optimization, and a file landed without a sidecar simply
    * never skips. */
  private[v2] def headerBloomCols(fs: FileSystem, root: HPath): Seq[String] =
    try headerLine(fs, new HPath(root, ManifestFile)).flatMap(_.split(' ').collectFirst {
      case a if a.startsWith("bloomcols=") =>
        a.stripPrefix("bloomcols=").split(',').toSeq
          .map(DelimV2.statUnesc).filter(_.nonEmpty)
    }).getOrElse(Nil)
    catch { case scala.util.control.NonFatal(_) => Nil }

  /** The segment file names a manifest document references — a
    * line-scan of the (small) index, never loading the segments. */
  private[v2] def segmentNamesOf(fs: FileSystem, mf: HPath): Seq[String] =
    if (!fs.exists(mf)) Nil
    else {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.startsWith("#segment\t"))
        .flatMap(_.split('\t').lift(1)).toList
      finally in.close()
    }

  /** segmentNamesOf through a per-JVM memo: the per-commit segment GC
    * re-read EVERY retained version doc on EVERY commit to build its
    * referenced set — `retain` extra file reads per commit (part of
    * the round-19 measured write tax). A `.v<gen>` doc is immutable
    * once landed, so (length, mtime) validates an entry; a recreated
    * table's reused generation number changes both. Capped, clear-on-
    * overflow like the segment caches. */
  private val segNamesCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Seq[String])]()
  private def segmentNamesCached(fs: FileSystem, mf: HPath): Seq[String] = {
    val st =
      try fs.getFileStatus(mf)
      catch { case _: java.io.FileNotFoundException => return Nil }
    val key = fs.makeQualified(mf).toUri.toString
    val cached = segNamesCache.get(key)
    if (cached != null && cached._1 == st.getLen &&
      cached._2 == st.getModificationTime) cached._3
    else {
      val names = segmentNamesOf(fs, mf)
      if (segNamesCache.size > 1024) segNamesCache.clear()
      segNamesCache.put(key, (st.getLen, st.getModificationTime, names))
      names
    }
  }

  /** CRASH RECOVERY: a commit that died between its version claim
    * (`_manifest.v<G+1>` exists) and the pointer swap (`_manifest`
    * still at G) blocks subsequent commits loudly. Rolling FORWARD is
    * always sound once no writer is active: the claimed version's
    * files were already promoted before the claim, so swapping the
    * current pointer onto it completes the dead commit exactly as it
    * would have completed itself. Returns the recovered generation, or
    * None when the table needs no recovery.
    */
  def recoverManifest(fs: FileSystem, target: HPath): Option[Long] = {
    // the RAW pointer, not readManifest: its swap-window fallback
    // already reports the claimed generation, which would mask the
    // stale pointer this repair exists to fix. Header-only read: this
    // probe runs on EVERY commit, and parsing a segmented index here
    // would load every segment just to read one number. An unreadable
    // pointer degrades to gen 0 — the roll-forward below then swaps
    // onto the highest claim, which IS the repair.
    val cur = manifestGenOf(fs, new HPath(target, ManifestFile)).getOrElse(0L)
    // roll straight to the HIGHEST claim: every claimed generation's
    // files were promoted before its claim, so the newest claim is the
    // most complete durable snapshot
    val next = retainedVersions(fs, target).filter(_ > cur).maxOption
    next.map { g =>
      // VERBATIM byte copy of the claimed document: re-serializing a
      // parsed snapshot would inline a segmented index
      swapCurrentManifest(fs, target,
        readRawManifest(fs, new HPath(target, s"$ManifestFile.v$g")))
      g
    }
  }

  /** The live snapshot of every data file — the manifest when present,
    * else the recursive listing (the previous-generation input to a
    * committing writer; legacy files carry gen 0 = positional layout).
    */
  private[v2] def snapshotManifest(
      fs: FileSystem, target: HPath, conf: Configuration): DelimManifest =
    readManifest(fs, target).getOrElse {
      val root = fs.makeQualified(target).toUri
      DelimManifest(
        DelimV2.listSnapshot(Seq(target.toString), conf).files.map { f =>
          val rel = root.relativize(fs.makeQualified(f.status.getPath).toUri).getPath
          ManifestEntry(f.status.getLen, 0L, rel)
        }, multiLine = false)
    }

  /** True when any listed root carries a manifest flagged multiline —
    * the reader then engages quote-aware whole-file framing without
    * any option (the WRITER knows it quoted a newline; forcing every
    * reader to also know is how silent misframing happens).
    */
  private[v2] def manifestMultiLine(paths: Seq[String], conf: Configuration,
      versionAsOf: Option[Long] = None): Boolean =
    paths.exists { p =>
      val hp = new HPath(p)
      val fs = DelimV2.fileSystem(hp, conf)
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty).exists { st =>
        // a FILE or glob match (load("t/*.txt")) still belongs to its
        // table: probe the enclosing table ROOT — the file's directory,
        // walking up out of any k=v partition levels — so a file-level
        // read of a multiline-flagged table frames correctly instead
        // of silently misframing (the failure the flag exists to stop)
        val dir: HPath =
          if (st.isDirectory) st.getPath
          else {
            var d = st.getPath.getParent
            while (d != null && d.getParent != null && d.getName.contains("="))
              d = d.getParent
            d
          }
        dir != null && {
          // header-only read: the flag is line 1 — parsing a large
          // table's whole entry list for one bit would tax every scan
          headerLine(fs, new HPath(dir,
            versionAsOf.map(g => s"$ManifestFile.v$g").getOrElse(ManifestFile)))
            .exists(_.contains("multiline=true"))
        }
      }
    }

  // ------------------------------------------------------ the commit

  /** THE COMMIT PATH: every table mutation lands through here, in this
    * order (README, "How a graft-delim commit works"):
    *  1. promote the `staged` files to their final names;
    *  2. build their manifest entries at generation `prev.gen + 1`;
    *  3. claim that generation with `edit(newGen, newEntries)` — the
    *     caller's own change, written as `prev.copy(...)` — through
    *     [[commitManifest]];
    *  4. on a lost claim, roll back the promoted files and their
    *     sidecars (staged names are generation-token unique, so this
    *     can never touch the winner's data) and rethrow;
    *  5. delete the files the new generation dropped that no retained
    *     snapshot keeps, with their sidecars. The retained set is read
    *     only when something was dropped: appends, merge-on-read
    *     deltas, tombstones and property commits read no retained
    *     manifest.
    * `staging` (the operation's staging directory) goes on every exit.
    * Checks that must hold before anything is promoted (a row-level
    * operation's base generation, the delta key cap) stay with the
    * caller. Returns the must-not-delete set for callers that sweep
    * further (static overwrite, expire_snapshots).
    */
  private[graft] def commit(fs: FileSystem, target: HPath, prev: DelimManifest,
      staged: Seq[DelimStagedFile] = Nil, staging: Option[HPath] = None)(
      edit: (Long, Seq[ManifestEntry]) => DelimManifest): LiveFileSet =
    try {
      val newGen = prev.gen + 1
      val newEntries = promote(fs, target, staged, newGen)
      val next = edit(newGen, newEntries).copy(gen = newGen)
      val live =
        try commitManifest(fs, target, next)
        catch {
          case e: java.util.ConcurrentModificationException =>
            newEntries.foreach(ne => deleteWithSidecar(fs, target, ne.rel))
            throw e
        }
      // an edit that keeps prev's entries as a prefix dropped nothing
      // (appends, deltas, epochs, property commits): one reference walk
      // instead of an O(table) set build per commit, the cost the lazy
      // LiveFileSet exists to keep off append commits
      val nextIt = next.files.iterator
      if (!prev.files.forall(e => nextIt.hasNext && (nextIt.next() eq e))) {
        val kept = next.files.iterator.map(_.rel).toSet
        prev.files.iterator.map(_.rel).filterNot(kept).toList
          .filterNot(live).foreach(deleteWithSidecar(fs, target, _))
      }
      live
    } finally staging.foreach(fs.delete(_, true))

  /** Promote staged files to their final names and return the data
    * files' manifest entries at generation `gen` (bloom sidecars land
    * beside their data file, never listed). An existing file under the
    * final name is REPLACED — a no-op for batch (staged names are
    * attempt-unique) and the replay-idempotence rule for streaming
    * epochs, which promote their own files outside [[commit]]'s
    * rollback for exactly that reason.
    */
  private[v2] def promote(fs: FileSystem, target: HPath,
      staged: Seq[DelimStagedFile], gen: Long): Seq[ManifestEntry] =
    staged.flatMap { sf =>
      val src = new HPath(sf.path)
      val dstDir = if (sf.subdir.isEmpty) target else new HPath(target, sf.subdir)
      if (sf.subdir.nonEmpty) fs.mkdirs(dstDir)
      val dst = new HPath(dstDir, sf.finalName)
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"graft-delim: commit rename failed for $src")
      if (sf.sidecar) None
      else Some(ManifestEntry(sf.length, gen,
        if (sf.subdir.isEmpty) sf.finalName else s"${sf.subdir}/${sf.finalName}",
        sf.stats))
    }

  /** The dead-file rule every cleanup shares: a file is live when a
    * retained snapshot lists it, and a `.bloom` sidecar is live when
    * its data file is. */
  private[v2] def isLive(live: String => Boolean, rel: String): Boolean =
    live(rel) || (rel.endsWith(DelimBloom.Suffix) &&
      live(rel.stripSuffix(DelimBloom.Suffix)))

  /** Delete a data file together with its bloom sidecar, if any. */
  private def deleteWithSidecar(fs: FileSystem, target: HPath, rel: String): Unit = {
    fs.delete(new HPath(target, rel), false)
    fs.delete(new HPath(target, rel + DelimBloom.Suffix), false)
  }

  /** Static-overwrite cleanup: delete every data file under `target`
    * that is not live (see [[isLive]]), then prune k=v directories left
    * empty. Underscore/dot entries at the ROOT (the manifest, markers,
    * staging) survive; inside a dead partition directory they die with
    * it (checksum sidecars must not keep a deleted partition listable).
    * Foreign non-k=v subdirectories are left untouched. Returns how
    * many files died (the expire_snapshots procedure's summary row).
    */
  private[v2] def sweepDead(fs: FileSystem, target: HPath, live: LiveFileSet): Long = {
    val root = fs.makeQualified(target).toUri
    var deleted = 0L
    def walk(dir: HPath, isRoot: Boolean): Boolean = { // true = keep dir
      var keep = false
      Option(fs.listStatus(dir)).getOrElse(Array.empty).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (n.startsWith("_") || n.startsWith(".")) {
            if (isRoot) keep = true // staging lives until the job ends
          } else if (n.contains("=")) {
            if (walk(st.getPath, isRoot = false)) keep = true
            else fs.delete(st.getPath, true)
          } else keep = true
        } else if (n.startsWith("_") || n.startsWith(".")) {
          if (isRoot) keep = true
        } else {
          val rel = root.relativize(fs.makeQualified(st.getPath).toUri).getPath
          if (isLive(live, rel)) keep = true
          else { fs.delete(st.getPath, false); deleted += 1 }
        }
      }
      keep
    }
    walk(target, isRoot = true)
    deleted
  }
}
