package graft.sources.v2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.DataType

/** Per-file BLOOM SIDECARS: equality skipping for columns the layout
  * does NOT cluster. Min/max stats prune range queries on sorted or
  * partitioned columns, but an `=` probe on an unclustered
  * high-cardinality key (the reconcile workload's id lookups) matches
  * the [min,max] of nearly every file — at 100 TB that is a full
  * scan for one row. A writer given `bloomFor=col,...` emits one
  * small sidecar per data file (`<file>.bloom`, fixed 256 Kbit + 5
  * hashes per column ≈ 32 KB — ~1% false positives to ~25k distinct
  * values, degrading gracefully past that); READERS probe it at task
  * start and return empty without touching the data bytes when the
  * bloom proves no key can match. Parquet keeps its blooms in the
  * file footer for the same executor-side reason — the sidecar is
  * the footer this format doesn't have. Deliberately NOT in the
  * manifest: 32 KB × 100k files would blow the measured metadata
  * envelope (STRESS.md §15); the manifest header carries only the
  * bloomed COLUMN LIST, so un-bloomed tables never pay a probe.
  *
  * Hash canon: the murmur3 of the field's WRITTEN TEXT bytes — the
  * writer hashes exactly what it serializes, the reader re-serializes
  * the filter literal through the same normValue/externalToText path,
  * so both sides agree for every supported type with zero ambiguity.
  */
private[graft] object DelimBloom {

  val Bits: Int = 1 << 18 // 256 Kbit = 32 KB per (file, column)
  val Hashes: Int = 5
  val Suffix: String = ".bloom"
  private val Magic = "#graft-bloom v1"

  final class Builder {
    private[v2] val bits = new Array[Long](Bits / 64)
    def add(text: String): Unit = {
      val b = text.getBytes(StandardCharsets.UTF_8)
      val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x85ebca6b)
      var i = 0
      while (i < Hashes) {
        val h = (h1.toLong + i.toLong * h2.toLong) & Long.MaxValue
        val bit = (h % Bits).toInt
        bits(bit >> 6) |= 1L << (bit & 63)
        i += 1
      }
    }
  }

  def mightContain(bits: Array[Long], text: String): Boolean = {
    val b = text.getBytes(StandardCharsets.UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x85ebca6b)
    var i = 0
    while (i < Hashes) {
      val h = (h1.toLong + i.toLong * h2.toLong) & Long.MaxValue
      val bit = (h % Bits).toInt
      if ((bits(bit >> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Serialize one file's per-column blooms (sidecar bytes). */
  def serialize(cols: Seq[(String, Array[Long])]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(64 + cols.size * (Bits / 6))
    sb.append(Magic).append('\n')
    cols.foreach { case (c, bits) =>
      val bytes = new Array[Byte](bits.length * 8)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bits.foreach(bb.putLong)
      sb.append(c).append('\t').append(Bits).append('\t')
        .append(java.util.Base64.getEncoder.encodeToString(bytes))
        .append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Parse a sidecar; malformed → None ("cannot skip", never an error). */
  def deserialize(bytes: Array[Byte]): Option[Map[String, Array[Long]]] = {
    try {
      val lines = new String(bytes, StandardCharsets.UTF_8).linesIterator
      if (!lines.hasNext || lines.next() != Magic) return None
      Some(lines.filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        require(f.length == 3 && f(1).toInt == Bits)
        val raw = java.util.Base64.getDecoder.decode(f(2))
        val bits = new Array[Long](raw.length / 8)
        val bb = java.nio.ByteBuffer.wrap(raw)
        var i = 0
        while (i < bits.length) { bits(i) = bb.getLong(); i += 1 }
        f(0) -> bits
      }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The filter literals a bloom can decide, as WRITTEN-TEXT probes:
    * (column, texts) — the file skips iff for SOME entry every text
    * tests negative (an In needs all keys absent; conjunct semantics,
    * so any deciding filter suffices).
    */
  def probes(filters: Seq[Filter], bloomCols: Set[String],
      typeOf: String => Option[DataType]): Seq[(String, Seq[String])] =
    filters.flatMap {
      case EqualTo(c, v) if bloomCols.contains(c) && v != null =>
        typeOf(c).map(dt =>
          c -> Seq(DelimV2.externalToText(DelimV2.normValue(v, dt), dt)))
      case In(c, vs) if bloomCols.contains(c) &&
          vs != null && vs.nonEmpty && vs.forall(_ != null) &&
          vs.length <= 256 => // bounded probe work per task
        typeOf(c).map(dt => c -> vs.toSeq.map(v =>
          DelimV2.externalToText(DelimV2.normValue(v, dt), dt)))
      case _ => None
    }

  /** Executor-side gate: true = the sidecar PROVES no row matches.
    * A missing or unreadable sidecar never skips.
    */
  def fileSkips(fs: FileSystem, dataFile: HPath,
      probeSet: Seq[(String, Seq[String])]): Boolean = {
    if (probeSet.isEmpty) return false
    val side = new HPath(dataFile.getParent, dataFile.getName + Suffix)
    val blooms =
      try {
        if (!fs.exists(side)) return false
        val in = fs.open(side)
        try {
          val len = fs.getFileStatus(side).getLen.toInt
          val buf = new Array[Byte](len)
          in.readFully(0, buf)
          deserialize(buf)
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    blooms match {
      case None => false
      case Some(m) => probeSet.exists { case (c, texts) =>
        m.get(c).exists(bits => texts.forall(t => !mightContain(bits, t)))
      }
    }
  }
}
