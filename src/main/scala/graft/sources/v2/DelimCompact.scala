package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Small-file COMPACTION (OPTIMIZE) for graft-delim tables — the
  * maintenance operation a landing directory needs once a streaming
  * sink has fed it for a while: each epoch commits one file per
  * (epoch, partition) (DelimWrite.toStreaming), so a partition
  * accumulates files forever and the 100 TB read cost shifts from
  * bytes to per-file open overhead. `compact` rewrites each
  * partition's accumulated files into ONE file per (partition,
  * generation) and swaps the manifest atomically through the same
  * claim-race-detected commit as every write, so readers planned
  * mid-compaction see the old file set or the new one, never a mix,
  * and a racing writer fails loudly instead of silently losing the
  * compaction (or its own commit).
  *
  * Grouping is per (partition directory, recorded field LAYOUT): the
  * format is newline-framed text, so compaction is a BYTE-LEVEL
  * concatenation — no parse, no typed row materialization — sound
  * exactly when the member files' writer layouts are equal (a
  * streaming sink's epochs are each their own generation but share one
  * layout, so they all compact together; generations on either side
  * of a schema evolution stay apart — mixing layouts in one file would
  * break the per-file schema mapping). The copy work
  * runs DISTRIBUTED (one task per group over the cluster); only the
  * per-group metadata returns to the driver, which promotes the files
  * and commits — the same bounded-metadata discipline as
  * ReconcilePipeline's driver collects.
  *
  * Compacted entries KEEP their source generation number (their bytes
  * still carry that generation's layout); the manifest itself advances
  * one generation, so inside a retention window `versionAsOf` still
  * reads the pre-compaction snapshot from the original small files.
  */
object DelimCompact {

  /** Compact every (partition, layout) group of at least
    * `minFilesPerGroup` files; returns the new manifest generation
    * (unchanged when nothing qualified). The table must carry a
    * committed manifest (compaction is a table-format operation).
    *
    * `targetFileSize` > 0 BIN-PACKS each group instead of merging it
    * into one file: members (in deterministic rel order) fill bins of
    * cumulative size <= target (one greedy pass; a single oversized
    * file is its own bin), one rewrite task per bin. This is the
    * 100 TB form — one-file-per-partition makes a hot partition a
    * single task streaming terabytes through one output stream, and
    * every future compaction of that partition rewrites everything
    * again; size-bounded bins keep tasks uniform and re-compaction
    * incremental (a bin already at target is a single file next time
    * and is left in place). 0 keeps the legacy whole-group merge.
    * Single-file bins are never rewritten — copying one file achieves
    * nothing but write amplification.
    */
  def compact(spark: SparkSession, tablePath: String,
      minFilesPerGroup: Int = 2, targetFileSize: Long = 0L,
      /** Line format of the table's files — needed only when
        * tombstone retirement rewrites through the parse path;
        * byte-level concatenation never inspects fields. Defaults
        * match the connector's (`delimiter='|'`, `quote='"'`). */
      delimiter: Char = '|', quote: Int = '"'.toInt): Long = {
    val target = new HPath(tablePath)
    val conf = DelimV2.driverConf()
    val fs = DelimV2.fileSystem(target, conf)
    val m = DelimLog.readManifest(fs, target).getOrElse(
      throw new IllegalArgumentException(
        s"graft-delim: no committed manifest at $tablePath — " +
          "compaction operates on manifest-committed tables"))
    val newGen = m.gen + 1
    // a compacted entry carries a REPRESENTATIVE generation of its
    // group (the newest member with that layout) so readers keep
    // resolving its fields through the same recorded schema; legacy
    // entries (no recorded schema) group together under gen 0
    // merged data-skipping stats: sound only when EVERY member carries
    // stats (min of mins, max of maxes, null/row sums over the columns
    // every member bounded) — any gap merges to "no stats"
    def mergeStats(entries: Seq[DelimLog.ManifestEntry],
        layout: Option[DelimLog.ManifestSchema]): String = {
      val decoded = entries.map(e => DelimV2.decodeStats(e.stats, layout))
      if (layout.isEmpty || decoded.exists(_.isEmpty)) return ""
      val all = decoded.map(_.get)
      val st = layout.get.struct
      val common = all.map(_.cols.keySet).reduce(_ intersect _)
      val rows = all.map(_.rows).sum
      val cols = common.toSeq.sorted.map { c =>
        val dt = st(c).dataType
        val cs = all.map(_.cols(c))
        val mins = cs.map(_.min).filter(_ != null)
        val maxs = cs.map(_.max).filter(_ != null)
        val mn = if (mins.isEmpty) null
          else mins.reduce((a, b) => if (DelimV2.cmp(dt, a, b) <= 0) a else b)
        val mx = if (maxs.isEmpty) null
          else maxs.reduce((a, b) => if (DelimV2.cmp(dt, a, b) >= 0) a else b)
        // NDV merges as min(Σ members, rows) — an upper bound (members
        // may share values), which is the CBO ordering contract the
        // table-level derivation already uses; any member without a
        // recorded ndv merges to "unknown" rather than a lying number
        val ndv =
          if (cs.exists(_.ndv < 0L)) -1L
          else math.min(cs.map(_.ndv).sum, math.max(rows - cs.map(_.nulls).sum, 1L))
        (c, DelimV2.externalToText(mn, dt), DelimV2.externalToText(mx, dt),
          cs.map(_.nulls).sum, ndv)
      }
      DelimV2.encodeStatsNdv(rows, cols)
    }
    // greedy size-bounded binning over the group's entries in
    // deterministic rel order; target <= 0 = one bin (legacy merge)
    def bins(entries: Seq[DelimLog.ManifestEntry])
        : Seq[Seq[DelimLog.ManifestEntry]] = {
      val sorted = entries.sortBy(_.rel)
      if (targetFileSize <= 0L) return Seq(sorted)
      val out = Seq.newBuilder[Seq[DelimLog.ManifestEntry]]
      var cur = Vector.empty[DelimLog.ManifestEntry]
      var curLen = 0L
      sorted.foreach { e =>
        if (cur.nonEmpty && curLen + e.len > targetFileSize) {
          out += cur; cur = Vector.empty; curLen = 0L
        }
        cur :+= e; curLen += e.len
      }
      if (cur.nonEmpty) out += cur
      out.result()
    }
    // TOMBSTONE RETIREMENT: files any delete tombstone still applies
    // to are rewritten through the PARSE path — the reader applies
    // the tombstones' complement per row (exactly as every scan
    // does), the writer re-lands the survivors under the CURRENT
    // schema — and the committed manifest then carries no file old
    // enough for any tombstone, so serialization GCs them all. At
    // 100 TB a tombstone is a per-row predicate tax on every scan of
    // every affected file, and it suppresses the count-star/stats
    // pushdowns table-wide; compaction is where that debt is repaid.
    val (tombFiles, plainFiles) =
      m.files.partition(e => m.tombstones.exists(_._1 >= e.gen))
    val curSchema: Option[DelimLog.ManifestSchema] =
      m.schemas.get(m.gen)
        .orElse(m.schemas.toSeq.sortBy(_._1).lastOption.map(_._2))
    if (tombFiles.nonEmpty && curSchema.isEmpty)
      throw new IllegalStateException(
        s"graft-delim: tombstones at $tablePath but no recorded schema " +
          "to rewrite under")
    // plain files byte-concatenate as before, grouped per (partition
    // directory, recorded field LAYOUT) — layouts must match for a
    // byte-level merge to stay parseable per file schema mapping
    val groups = plainFiles.groupBy(e => (DelimLog.dirOf(e.rel), m.schemas.get(e.gen)))
      .filter(_._2.size >= math.max(minFilesPerGroup, 2))
      .toSeq
      .flatMap { case ((sub, layout), entries) =>
        bins(entries)
          .filter(_.size >= 2) // rewriting a lone file is pure write amplification
          .map { bin =>
            (sub, if (layout.isDefined) bin.map(_.gen).max else 0L,
              bin.map(_.rel).sorted, mergeStats(bin, layout))
          }
      }
      .sortBy(t => (t._1, t._3.head))
    // tombstoned groups always rewrite (even a lone file: the rewrite
    // physically drops deleted rows — real work, not amplification)
    val tombJobs = tombFiles.groupBy(e => DelimLog.dirOf(e.rel)).toSeq.sortBy(_._1)
      .flatMap { case (sub, es) => bins(es).map(bin => (sub, bin)) }
      .zipWithIndex
    if (groups.isEmpty && tombJobs.isEmpty) return m.gen
    val stagingName = s"_staging_compact_$newGen"
    val staging = new HPath(target, stagingName)
    fs.mkdirs(staging)
    val confMap = DelimV2.shippableConf(conf)
    val targetStr = target.toString
    val statsByIdx = groups.map(_._4).toArray
    val jobs = groups.zipWithIndex.map { case ((sub, gen, rels, _), i) =>
      (sub, gen, rels, i)
    }
    // one task per group; each concatenates its files byte-for-byte
    // (inserting a newline only after a file whose final line is
    // unterminated — legacy fixtures; the connector's own writers
    // always terminate) and returns ONLY metadata
    val compacted = if (jobs.isEmpty)
      Array.empty[(String, Long, Seq[String], String, Long, Int, Boolean)]
    else spark.sparkContext
      .parallelize(jobs, math.min(jobs.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .map { case (sub, gen, rels, i) =>
        val root = new HPath(targetStr)
        val cx = DelimV2.executorConf(confMap)
        val fsx = DelimV2.fileSystem(root, cx)
        val outName = f"compact-$newGen-$i%05d.txt"
        val outPath = new HPath(new HPath(root, stagingName), outName)
        val out = DelimLog.create(cx, outPath, overwrite = true)
        var total = 0L
        try {
          val buf = new Array[Byte](1 << 16)
          rels.foreach { rel =>
            val in = fsx.open(new HPath(root, rel))
            var last: Byte = '\n'
            try {
              var n = in.read(buf)
              while (n > 0) {
                out.write(buf, 0, n)
                total += n
                last = buf(n - 1)
                n = in.read(buf)
              }
            } finally in.close()
            if (last != '\n') { out.write('\n'); total += 1 }
          }
        } finally out.close()
        // BLOOM SIDECAR OR-MERGE: the bin's bytes are exactly its
        // members' bytes, and the sidecar geometry is fixed (256 Kbit,
        // 5 murmur3 hashes over written text), so the union file's
        // bloom is the bitwise OR of the members' bitsets — a 32 KB
        // metadata pass, no data re-parse. Sound only over columns
        // EVERY member bounded: a column one member never bloomed
        // would falsely skip that member's rows, so it merges to
        // "absent" (cannot skip), like stats merging declines on gaps.
        val sides = rels.map { rel =>
          val sp = new HPath(root, rel + DelimBloom.Suffix)
          try {
            if (!fsx.exists(sp)) None
            else {
              val len = fsx.getFileStatus(sp).getLen.toInt
              val raw = new Array[Byte](len)
              val in = fsx.open(sp)
              try in.readFully(0, raw) finally in.close()
              DelimBloom.deserialize(raw)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        val mergedSide: Boolean =
          if (sides.exists(_.isEmpty)) false
          else {
            val maps = sides.map(_.get)
            val common = maps.map(_.keySet).reduce(_ intersect _)
            if (common.isEmpty) false
            else {
              val cols = common.toSeq.sorted.map { cl =>
                val acc = new Array[Long](DelimBloom.Bits / 64)
                maps.foreach { mp =>
                  val b = mp(cl)
                  var j = 0
                  while (j < acc.length) { acc(j) |= b(j); j += 1 }
                }
                (cl, acc)
              }
              val so = DelimLog.create(cx, new HPath(
                new HPath(root, stagingName), outName + DelimBloom.Suffix),
                overwrite = true)
              try so.write(DelimBloom.serialize(cols)) finally so.close()
              true
            }
          }
        (sub, gen, rels, outName, total, i, mergedSide)
      }.collect() // bounded: one row of names/lengths per group
    // parse-path rewrite of tombstoned bins: one task per bin, each
    // draining its members through the scans' columnar reader (tombstone
    // complements applied per member generation, schema evolution
    // mapped per member layout) into the certified writer (stats and
    // bloom sidecars recorded like any write). Only metadata returns.
    val retireMsgs: Seq[DelimCommit] =
      if (tombJobs.isEmpty) Nil
      else {
        val struct = curSchema.get.struct
        val pCols = curSchema.get.partCols
        val bloomFor = m.bloomCols.filter(c =>
          struct.fieldNames.contains(c) && !pCols.contains(c))
        val multi = m.multiLine
        val dChar = delimiter
        val qInt = quote
        // members' positional field names TRANSLATED through the field
        // IDs (like every scan's listing): the rewrite must resolve a
        // renamed column from its recorded position, not read it as
        // absent and null it out
        val layout = DelimV2.layoutTranslations(m)
        val jobs = tombJobs.map { case ((sub, bin), i) =>
          val kv = DelimV2.partValues(sub)
          val partVals: Array[String] = pCols.map { pc =>
            kv.collectFirst { case (k, v) if k == pc => v }.orNull
          }.toArray
          val members = bin.sortBy(_.rel).map { e =>
            (e.rel, e.len,
              layout(e.gen).map(_._1).orNull,
              m.tombstones.filter(_._1 >= e.gen)
                .map(t => DelimV2.tombstoneFilter(t._2, struct)).toArray)
          }
          (partVals, members, i)
        }
        spark.sparkContext
          .parallelize(jobs, math.min(jobs.size,
            math.max(1, spark.sparkContext.defaultParallelism)))
          .map { case (partVals, members, i) =>
            val root = new HPath(targetStr)
            val fsx = DelimV2.fileSystem(root, DelimV2.executorConf(confMap))
            val writer = new DelimDataWriter(
              s"$targetStr/$stagingName", f"retire-$newGen-$i%05d",
              struct, dChar, confMap, pCols, quote = qInt,
              singleOpenStream = false, bloomFor = bloomFor)
            members.foreach { case (rel, len, fields, tombs) =>
              val p = new HPath(root, rel)
              val split = DelimSplit(p.toString, 0L, len, len, partVals,
                null, fields, Array.empty, Array.empty)
              val rdr = new DelimColumnarReader(fsx.open(p), split, struct,
                struct, tombs, dChar, -1, pCols.toArray, qInt, multi)
              // the writer copies every value out (text and stats), so
              // the batch's reused row view is safe to hand it
              try while (rdr.next()) {
                val rows = rdr.get().rowIterator()
                while (rows.hasNext) writer.write(rows.next())
              } finally rdr.close()
            }
            writer.commit().asInstanceOf[DelimCommit]
          }.collect().toSeq
      }
    // compacted outputs promote like any staged write (the OR-merged
    // sidecar rides along), but their entries KEEP their group's
    // representative generation: their bytes carry that layout
    val compactedStaged = compacted.toSeq.flatMap {
      case (sub, _, _, outName, len, gi, side) =>
        DelimStagedFile(sub, new HPath(staging, outName).toString, outName, len,
          statsByIdx(gi)) +:
          (if (side) Seq(DelimStagedFile(sub,
            new HPath(staging, outName + DelimBloom.Suffix).toString,
            outName + DelimBloom.Suffix, sidecar = true))
          else Nil)
    }
    val groupGen: Map[String, Long] = compacted.map {
      case (sub, gen, _, outName, _, _, _) =>
        (if (sub.isEmpty) outName else s"$sub/$outName") -> gen
    }.toMap
    val replaced = compacted.flatMap(_._3).toSet ++ tombFiles.map(_.rel)
    // a lost claim means a real writer won the race: the commit rolls
    // back the compacted files and the table keeps the writer's
    // snapshot; a replaced member's sidecar dies with it (the merged
    // sidecar on the compacted file carries its bits forward)
    DelimLog.commit(fs, target, m,
      compactedStaged ++ retireMsgs.flatMap(_.staged), Some(staging)) {
      (_, newEntries) =>
        m.copy(
          files = m.files.filterNot(e => replaced.contains(e.rel)) ++
            newEntries.map(e => groupGen.get(e.rel).fold(e)(g => e.copy(gen = g))),
          // retired entries were written NOW, under the current schema:
          // record it for the new generation. The commit still carries
          // m.tombstones verbatim — serialization GCs every tombstone no
          // live file is old enough for, which after full retirement is
          // ALL of them.
          schemas =
            if (tombJobs.nonEmpty) m.schemas + (newGen -> curSchema.get)
            else m.schemas,
          multiLine = m.multiLine || retireMsgs.exists(_.multiLine))
    }
    newGen
  }
}
