package graft.sources.v2

import java.time.LocalDate

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** The one parser of graft-delim rows: every batch scan, stream
  * micro-batch, pushed TopN and compaction retire rewrite reads
  * through it. It parses delimited lines straight from the framing
  * reader's BYTE SPANS into Spark `ColumnarBatch`es — engaging the
  * columnar scan pipeline (`ColumnarToRow` hands whole batches to
  * whole-stage codegen) with no per-row line `String` or row object:
  *
  *  - string columns copy UTF-8 bytes DIRECTLY into the vector — no
  *    UTF-16 decode/re-encode round trip at all (the dominant cost of
  *    a wide string scan);
  *  - int/long/date columns parse digits from the bytes in place;
  *    doubles materialize a (short) String only for `parseDouble`
  *    (binary-exact parsing is its own project);
  *  - partition columns, the `_file` metadata column, and columns a
  *    file's generation never wrote are `ConstantColumnVector`s —
  *    zero per-row work;
  *  - pushed row filters evaluate on a scratch row of ONLY the filter
  *    columns before any output vector is touched.
  *
  * Field semantics are those of decoding each line as UTF-8 and
  * splitting it on the delimiter character: a non-ASCII delimiter is
  * matched as its UTF-8 byte sequence (UTF-8 is self-synchronizing, so
  * a byte match is a character match), malformed UTF-8 in a string
  * field reads as U+FFFD, an unquoted `\N` is null, a malformed typed
  * field is null, and -0.0 reads as 0.0 — certified by
  * DelimColumnarSpec's exact-answer cases and the delim_v2_* oracle
  * surface.
  */
private[v2] class DelimColumnarReader(
    in: FSDataInputStream,
    split: DelimSplit,
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    delim: Char,
    limit: Int,
    partCols: Array[String],
    quote: Int,
    multiLine: Boolean,
    /** Pushed `ORDER BY ... LIMIT k`: the split drains through a
      * k-bounded heap and emits one batch of its survivors (see
      * nextTopN). Empty = plain scan. */
    topN: Array[DelimSortKey] = Array.empty)
    extends PartitionReader[ColumnarBatch] {

  private val lines =
    new LineSplitReader(in, split.start, split.start + split.length, split.fileLen,
      if (multiLine) quote else -1)

  // ---- field universe + file-position mapping: the data schema plus
  // the `_file` metadata column (a split constant, like partition
  // values) unless a data column shadows it
  private val allFields: Array[StructField] =
    if (fullSchema.fieldNames.contains(DelimV2.FileMetaCol)) fullSchema.fields
    else fullSchema.fields :+
      StructField(DelimV2.FileMetaCol, StringType, nullable = false)
  private val idxOf: Map[String, Int] = allFields.map(_.name).zipWithIndex.toMap
  private val types: Array[DataType] = allFields.map(_.dataType)
  private val partIdxSet: Set[Int] = partCols.map(idxOf).toSet
  // schema index → FILE field position: positional in schema order, or
  // BY NAME through the file generation's recorded layout
  // (split.fileFields), where a column the generation never wrote has
  // no position (-1) and reads as null. By-name mapping engages only
  // when the read schema shares a name with that layout — a reader
  // that renames every column keeps the positional contract instead of
  // reading all-null. Partition fields and `_file` are -1: split
  // constants.
  private val byName: Boolean = split.fileFields != null &&
    fullSchema.fieldNames.zipWithIndex.exists { case (n, i) =>
      !partIdxSet.contains(i) && split.fileFields.contains(n)
    }
  private val filePos: Array[Int] = {
    val m = new Array[Int](allFields.length)
    if (!byName) {
      var fp = 0
      var i = 0
      while (i < m.length) {
        if (partIdxSet.contains(i) || i >= fullSchema.size) m(i) = -1
        else { m(i) = fp; fp += 1 }
        i += 1
      }
    } else {
      var i = 0
      while (i < m.length) {
        m(i) =
          if (partIdxSet.contains(i) || i >= fullSchema.size) -1
          else split.fileFields.indexOf(fullSchema.fieldNames(i))
        i += 1
      }
    }
    m
  }
  private val nFilePos: Int =
    if (byName) split.fileFields.length else allFields.length

  private val outputIdx: Array[Int] = required.fieldNames.map(idxOf)
  private val filterIdx: Array[Int] = filters.flatMap(_.references).distinct.map(idxOf)
  private val maxIdx: Int = (outputIdx ++ filterIdx)
    .map(filePos).foldLeft(-1)(math.max)

  // split constants at their schema slots (external representation),
  // for filter evaluation
  private val constExt: Array[Any] = {
    val ext = new Array[Any](allFields.length)
    var i = 0
    while (i < partCols.length) {
      val si = idxOf(partCols(i))
      ext(si) = DelimV2.parseExternal(split.partVals(i), types(si))
      i += 1
    }
    if (allFields.length > fullSchema.size)
      ext(allFields.length - 1) = split.path
    ext
  }
  private val scratch: Array[Any] = constExt.clone()
  private val predicates: Array[Array[Any] => Boolean] =
    filters.map(DelimV2.compileFilter(_, idxOf, types))

  // ---- output vectors: constants for split-constant columns, OnHeap
  // for file fields
  private val vectors: Array[ColumnVector] = outputIdx.map { si =>
    val dt = types(si)
    if (filePos(si) >= 0) new OnHeapColumnVector(DelimColumnarReader.BatchSize, dt)
    else {
      val v = new ConstantColumnVector(DelimColumnarReader.BatchSize, dt)
      DelimV2.toInternal(constExt(si), dt) match {
        case null => v.setNull()
        case u: UTF8String => v.setUtf8String(u)
        case i: Int => v.setInt(i)
        case l: Long => v.setLong(l)
        case d: Double => v.setDouble(d)
        case other => throw new IllegalArgumentException(
          s"graft-delim: unsupported constant type ${other.getClass}")
      }
      v
    }
  }
  private val writable: Array[OnHeapColumnVector] = vectors.collect {
    case v: OnHeapColumnVector => v
  }
  // (vector position, schema index, file position) of parsed outputs
  private val parsedOutputs: Array[(Int, Int, Int)] =
    outputIdx.zipWithIndex.collect {
      case (si, vi) if filePos(si) >= 0 => (vi, si, filePos(si))
    }

  private val batch = new ColumnarBatch(vectors, 0)
  private var emitted = 0
  private var finished = false

  // per-row field spans into the framing reader's buffer
  private val fStart = new Array[Int](math.max(nFilePos, 1))
  private val fEnd = new Array[Int](math.max(nFilePos, 1))
  private val fEsc = new Array[Boolean](math.max(nFilePos, 1))
  private val fQuoted = new Array[Boolean](math.max(nFilePos, 1))
  // unescape buffer for quoted fields containing "" (rare)
  private var unesc = new Array[Byte](64)

  // the delimiter as UTF-8 bytes: walkFields scans for the lead byte
  // and verifies the tail (empty for an ASCII delimiter)
  private val delimBytes: Array[Byte] =
    String.valueOf(delim).getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val delimLead: Byte = delimBytes(0)
  private val delimLen: Int = delimBytes.length
  private val quoteByte: Byte = if (quote >= 0) quote.toByte else -1

  /** Offset of the first delimiter in `buf(from until n)`, or `n`. */
  private def findDelim(buf: Array[Byte], from: Int, n: Int): Int = {
    var i = from
    while (i < n) {
      if (buf(i) == delimLead) {
        var k = 1
        while (k < delimLen && i + k < n && buf(i + k) == delimBytes(k)) k += 1
        if (k == delimLen) return i
      }
      i += 1
    }
    n
  }

  /** Walk one line's fields (quote-aware), recording spans for file
    * positions up to maxIdx; missing trailing fields get start -1.
    */
  private def walkFields(buf: Array[Byte], off: Int, len: Int): Unit = {
    val n = off + len
    var fieldStart = off
    var fp = 0
    while (fp <= maxIdx && fieldStart <= n) {
      if (quoteByte >= 0 && fieldStart < n && buf(fieldStart) == quoteByte) {
        var i = fieldStart + 1
        var escd = false
        var close = -1
        while (close < 0 && i < n) {
          if (buf(i) == quoteByte) {
            if (i + 1 < n && buf(i + 1) == quoteByte) { escd = true; i += 2 }
            else close = i
          } else i += 1
        }
        if (close < 0) close = n
        fStart(fp) = fieldStart + 1; fEnd(fp) = close
        fEsc(fp) = escd; fQuoted(fp) = true
        // text between the closing quote and the next delimiter is
        // ignored (the lenient stance of Spark's CSV parser)
        val d = findDelim(buf, close + 1, n)
        fieldStart = if (d < n) d + delimLen else n + 1
      } else {
        val i = findDelim(buf, fieldStart, n)
        fStart(fp) = fieldStart; fEnd(fp) = i
        fEsc(fp) = false; fQuoted(fp) = false
        fieldStart = if (i < n) i + delimLen else n + 1
      }
      fp += 1
    }
    while (fp <= maxIdx) { fStart(fp) = -1; fp += 1 }
  }

  /** Strict UTF-8 validity (RFC 3629): rejects continuation-first
    * bytes, overlongs, surrogate encodings, and > U+10FFFF — exactly
    * the sequences java.lang.String's decoder replaces with U+FFFD.
    */
  private def validUtf8(b: Array[Byte], s: Int, e: Int): Boolean = {
    var i = s
    while (i < e) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else if (c < 0xC2) return false // continuation byte or overlong lead
      else if (c < 0xE0) {
        if (i + 1 >= e || (b(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (c < 0xF0) {
        if (i + 2 >= e) return false
        val c1 = b(i + 1) & 0xFF
        if ((c1 & 0xC0) != 0x80 || (b(i + 2) & 0xC0) != 0x80) return false
        if (c == 0xE0 && c1 < 0xA0) return false // overlong
        if (c == 0xED && c1 > 0x9F) return false // UTF-16 surrogate range
        i += 3
      } else if (c < 0xF5) {
        if (i + 3 >= e) return false
        val c1 = b(i + 1) & 0xFF
        if ((c1 & 0xC0) != 0x80 || (b(i + 2) & 0xC0) != 0x80 ||
          (b(i + 3) & 0xC0) != 0x80) return false
        if (c == 0xF0 && c1 < 0x90) return false // overlong
        if (c == 0xF4 && c1 > 0x8F) return false // above U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** Collapse doubled quotes; returns (buffer, length). */
  private def unescape(buf: Array[Byte], s: Int, e: Int): Int = {
    if (unesc.length < e - s) unesc = new Array[Byte](math.max(unesc.length * 2, e - s))
    var i = s
    var o = 0
    while (i < e) {
      val b = buf(i)
      unesc(o) = b
      o += 1
      i += (if (b == quoteByte) 2 else 1)
    }
    o
  }

  // ---- byte-level typed parsing (String.trim semantics: chars <= ' ')
  private def trimStart(buf: Array[Byte], s: Int, e: Int): Int = {
    var i = s; while (i < e && (buf(i) & 0xFF) <= ' ') i += 1; i
  }
  private def trimEnd(buf: Array[Byte], s: Int, e: Int): Int = {
    var i = e; while (i > s && (buf(i - 1) & 0xFF) <= ' ') i -= 1; i
  }

  /** Parse a long from ASCII bytes; Long.MinValue sentinel is handled
    * via the `ok` flag. Mirrors java.lang.Long.parseLong acceptance
    * (optional +/-, decimal digits only).
    */
  private var parseOk = false
  private def parseLongBytes(buf: Array[Byte], s0: Int, e0: Int): Long = {
    parseOk = false
    val s = trimStart(buf, s0, e0)
    val e = trimEnd(buf, s, e0)
    if (s >= e) return 0L
    var i = s
    var neg = false
    buf(i) match {
      case '-' => neg = true; i += 1
      case '+' => i += 1
      case _ => ()
    }
    if (i >= e) return 0L
    // accumulate NEGATIVE (holds Long.MinValue) with overflow checks
    var acc = 0L
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val mulMin = limit / 10
    while (i < e) {
      val c = buf(i)
      if (c < '0' || c > '9') return 0L
      val d = c - '0'
      if (acc < mulMin) return 0L
      acc *= 10
      if (acc < limit + d) return 0L
      acc -= d
      i += 1
    }
    parseOk = true
    if (neg) acc else -acc
  }

  /** Exact decimal fast path for doubles: `[+-]digits[.digits]` with a
    * ≤15-digit mantissa and ≤22 fractional digits is `m / 10^k` where
    * both operands are exactly representable, so the single rounded
    * division IS the correctly-rounded result — bit-identical to
    * Double.parseDouble (the fast_double_parser exactness argument).
    * Anything else (exponents, long mantissas, Infinity/NaN spellings)
    * falls back to the String path.
    */
  private var dblFast = false
  private def parseDoubleBytes(b: Array[Byte], s0: Int, e0: Int): Double = {
    dblFast = false
    var i = s0
    var neg = false
    if (i < e0 && (b(i) == '-' || b(i) == '+')) { neg = b(i) == '-'; i += 1 }
    var mant = 0L
    var nDigits = 0
    var scale = 0
    var seenDot = false
    var any = false
    while (i < e0) {
      val c = b(i)
      if (c >= '0' && c <= '9') {
        if (nDigits >= 15) return 0.0 // exactness bound — fall back
        mant = mant * 10 + (c - '0')
        if (mant != 0) nDigits += 1
        if (seenDot) scale += 1
        any = true
      } else if (c == '.' && !seenDot) seenDot = true
      else return 0.0 // exponent/other — fall back
      i += 1
    }
    if (!any || scale > 22) return 0.0
    dblFast = true
    val d = if (scale == 0) mant.toDouble
    else mant.toDouble / DelimColumnarReader.Pow10(scale)
    if (neg) -d else d
  }

  /** ISO `yyyy-MM-dd` fast path (the only form the connector writes);
    * anything else falls back to LocalDate.parse via String.
    */
  private var dateFast = false
  private def parseDateBytes(b: Array[Byte], s: Int, e: Int): Int = {
    dateFast = false
    if (e - s != 10 || b(s + 4) != '-' || b(s + 7) != '-') return 0
    var i = s
    while (i < e) {
      if (i != s + 4 && i != s + 7 && (b(i) < '0' || b(i) > '9')) return 0
      i += 1
    }
    def n2(o: Int) = (b(o) - '0') * 10 + (b(o + 1) - '0')
    val y = n2(s) * 100 + n2(s + 2)
    try {
      val d = LocalDate.of(y, n2(s + 5), n2(s + 8)).toEpochDay.toInt
      dateFast = true
      d
    } catch { case _: java.time.DateTimeException => 0 }
  }

  /** `yyyy-MM-dd HH:mm:ss[.f{1,6}]` (or 'T' separator) fast path —
    * the only form the connector writes; anything else falls back to
    * the String round trip through parseExternal.
    */
  private var tsFast = false
  private def parseTimestampBytes(b: Array[Byte], s: Int, e: Int): Long = {
    tsFast = false
    if (e - s < 19) return 0L
    val day = parseDateBytes(b, s, s + 10)
    if (!dateFast) return 0L
    val sep = b(s + 10)
    if (sep != ' ' && sep != 'T') return 0L
    if (b(s + 13) != ':' || b(s + 16) != ':') return 0L
    var i = s + 11
    while (i < s + 19) {
      if (i != s + 13 && i != s + 16 && (b(i) < '0' || b(i) > '9')) return 0L
      i += 1
    }
    def n2(o: Int) = (b(o) - '0') * 10 + (b(o + 1) - '0')
    val hh = n2(s + 11); val mm = n2(s + 14); val ss = n2(s + 17)
    if (hh > 23 || mm > 59 || ss > 59) return 0L
    var frac = 0L
    if (e > s + 19) {
      if (b(s + 19) != '.' || e - (s + 20) < 1 || e - (s + 20) > 6) return 0L
      var j = s + 20
      var scale = 100000L
      while (j < e) {
        val c = b(j)
        if (c < '0' || c > '9') return 0L
        frac += (c - '0') * scale
        scale /= 10
        j += 1
      }
    }
    tsFast = true
    (day.toLong * 86400L + hh * 3600L + mm * 60L + ss) * 1000000L + frac
  }

  /** Write one parsed field into its vector (null on malformed: the
    * permissive contract).
    */
  private def writeField(v: WritableColumnVector, rowId: Int, si: Int, fp: Int,
      buf: Array[Byte]): Unit = {
    if (fStart(fp) < 0) { v.putNull(rowId); return } // missing trailing field
    var s = fStart(fp)
    var e = fEnd(fp)
    var b = buf
    // unquoted \N = the writer's null token (Hive convention)
    if (!fQuoted(fp) && e - s == 2 && buf(s) == '\\' && buf(s + 1) == 'N') {
      v.putNull(rowId); return
    }
    if (fEsc(fp)) { val n = unescape(buf, s, e); b = unesc; s = 0; e = n }
    types(si) match {
      case StringType =>
        // malformed UTF-8 reads as java.lang.String's decoder reads
        // it (U+FFFD per bad sequence), the value filters compare
        // against (externalOf) — copying raw invalid bytes into the
        // vector would make filter and group results disagree on
        // non-UTF8 files. Valid spans (the overwhelming case — ASCII
        // short-circuits per byte) still copy directly.
        if (validUtf8(b, s, e)) v.putByteArray(rowId, b, s, e - s)
        else {
          val fixed = new String(b, s, e - s,
            java.nio.charset.StandardCharsets.UTF_8)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          v.putByteArray(rowId, fixed, 0, fixed.length)
        }
      case LongType =>
        val x = parseLongBytes(b, s, e)
        if (parseOk) v.putLong(rowId, x) else v.putNull(rowId)
      case IntegerType =>
        val x = parseLongBytes(b, s, e)
        if (parseOk && x >= Int.MinValue && x <= Int.MaxValue)
          v.putInt(rowId, x.toInt)
        else v.putNull(rowId)
      case DoubleType =>
        val ts = trimStart(b, s, e)
        val te = trimEnd(b, ts, e)
        if (ts >= te) v.putNull(rowId)
        else {
          val fast = parseDoubleBytes(b, ts, te)
          if (dblFast)
            v.putDouble(rowId, if (fast == 0.0d) 0.0d else fast)
          else {
            try {
              val d = java.lang.Double.parseDouble(
                new String(b, ts, te - ts, java.nio.charset.StandardCharsets.US_ASCII))
              v.putDouble(rowId, if (d == 0.0d) 0.0d else d) // -0.0 == 0.0
            } catch { case _: NumberFormatException => v.putNull(rowId) }
          }
        }
      case DateType =>
        val ts = trimStart(b, s, e)
        val te = trimEnd(b, ts, e)
        if (ts >= te) v.putNull(rowId)
        else {
          val fast = parseDateBytes(b, ts, te)
          if (dateFast) v.putInt(rowId, fast)
          else {
            try v.putInt(rowId, LocalDate.parse(
              new String(b, ts, te - ts, java.nio.charset.StandardCharsets.US_ASCII))
              .toEpochDay.toInt)
            catch { case _: java.time.format.DateTimeParseException => v.putNull(rowId) }
          }
        }
      case TimestampType =>
        val ts = trimStart(b, s, e)
        val te = trimEnd(b, ts, e)
        if (ts >= te) v.putNull(rowId)
        else {
          val fast = parseTimestampBytes(b, ts, te)
          if (tsFast) v.putLong(rowId, fast)
          else DelimV2.parseExternal(
            new String(b, ts, te - ts, java.nio.charset.StandardCharsets.US_ASCII),
            TimestampType) match {
            case null => v.putNull(rowId)
            case us: Long => v.putLong(rowId, us)
          }
        }
      case other =>
        throw new IllegalArgumentException(s"graft-delim: unsupported type $other")
    }
  }

  /** External value of a field for filter evaluation: the field text
    * through DelimV2.parseExternal, with writeField's null token.
    */
  private def externalOf(si: Int, fp: Int, buf: Array[Byte]): Any = {
    if (fStart(fp) < 0) return null
    var s = fStart(fp)
    var e = fEnd(fp)
    var b = buf
    if (!fQuoted(fp) && e - s == 2 && buf(s) == '\\' && buf(s + 1) == 'N')
      return null
    if (fEsc(fp)) { val n = unescape(buf, s, e); b = unesc; s = 0; e = n }
    types(si) match {
      case StringType =>
        new String(b, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
      case _ => DelimV2.parseExternal(
        new String(b, s, e - s, java.nio.charset.StandardCharsets.US_ASCII),
        types(si))
    }
  }

  /** Fill one internal batch (filters applied); returns the row count
    * and sets `finished` when the split is drained. `cap` disables the
    * pushed-limit early exit in TopN mode (the heap must see every
    * row).
    */
  private def fillBatch(cap: Int): Int = {
    writable.foreach(_.reset())
    var n = 0
    var more = true
    while (n < DelimColumnarReader.BatchSize && more) {
      if (cap >= 0 && emitted >= cap) more = false
      else if (!lines.nextLineSpan()) more = false
      else {
        val buf = lines.lineBuf
        walkFields(buf, lines.lineOff, lines.lineLen)
        var pass = true
        if (predicates.nonEmpty) {
          var i = 0
          while (i < filterIdx.length) {
            val si = filterIdx(i)
            if (filePos(si) >= 0) scratch(si) = externalOf(si, filePos(si), buf)
            i += 1
          }
          var p = 0
          while (pass && p < predicates.length) {
            pass = predicates(p)(scratch); p += 1
          }
        }
        if (pass) {
          var j = 0
          while (j < parsedOutputs.length) {
            val (vi, si, fp) = parsedOutputs(j)
            writeField(vectors(vi).asInstanceOf[WritableColumnVector], n, si, fp, buf)
            j += 1
          }
          n += 1
          emitted += 1
        }
      }
    }
    if (!more) finished = true
    n
  }

  // ---- TopN mode: (vector position, desc, nullsFirst, type) per key;
  // heap rows are INTERNAL values extracted per vector position
  private val topNKeys: Array[(Int, Boolean, Boolean, DataType)] =
    topN.map { k =>
      val vi = required.fieldNames.indexOf(k.col)
      require(vi >= 0, s"graft-delim: TopN key ${k.col} not in read schema")
      (vi, k.desc, k.nullsFirst, types(idxOf(k.col)))
    }

  private def cmpInternal(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case IntegerType | DateType =>
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case other =>
      throw new IllegalArgumentException(s"graft-delim: unsupported sort type $other")
  }

  private val topNCmp: java.util.Comparator[Array[Any]] =
    new java.util.Comparator[Array[Any]] {
      override def compare(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < topNKeys.length) {
          val (vi, desc, nullsFirst, dt) = topNKeys(i)
          val x = a(vi); val y = b(vi)
          val c =
            if (x == null && y == null) 0
            else if (x == null) { if (nullsFirst) -1 else 1 }
            else if (y == null) { if (nullsFirst) 1 else -1 }
            else {
              val base = cmpInternal(dt, x, y)
              if (desc) -base else base
            }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }

  /** INTERNAL-typed value of one field straight from its byte span —
    * the TopN hot path: no vector write, no String for the common
    * (valid-UTF8 / fast-number) cases. Mirrors writeField's rules
    * exactly (null token, malformed → null, -0.0 normalization,
    * U+FFFD sanitation). A VIEW for strings — callers copy on keep.
    */
  private def internalOf(si: Int, fp: Int, buf: Array[Byte]): Any = {
    if (fStart(fp) < 0) return null
    var s = fStart(fp)
    var e = fEnd(fp)
    var b = buf
    if (!fQuoted(fp) && e - s == 2 && buf(s) == '\\' && buf(s + 1) == 'N')
      return null
    if (fEsc(fp)) { val n = unescape(buf, s, e); b = unesc; s = 0; e = n }
    types(si) match {
      case StringType =>
        if (validUtf8(b, s, e)) UTF8String.fromBytes(b, s, e - s)
        else UTF8String.fromString(
          new String(b, s, e - s, java.nio.charset.StandardCharsets.UTF_8))
      case LongType =>
        val x = parseLongBytes(b, s, e)
        if (parseOk) x else null
      case IntegerType =>
        val x = parseLongBytes(b, s, e)
        if (parseOk && x >= Int.MinValue && x <= Int.MaxValue) x.toInt else null
      case DoubleType =>
        val ts = trimStart(b, s, e)
        val te = trimEnd(b, ts, e)
        if (ts >= te) null
        else {
          val fast = parseDoubleBytes(b, ts, te)
          if (dblFast) { if (fast == 0.0d) 0.0d else fast }
          else try {
            val d = java.lang.Double.parseDouble(
              new String(b, ts, te - ts, java.nio.charset.StandardCharsets.US_ASCII))
            if (d == 0.0d) 0.0d else d
          } catch { case _: NumberFormatException => null }
        }
      case DateType =>
        val ts = trimStart(b, s, e)
        val te = trimEnd(b, ts, e)
        if (ts >= te) null
        else {
          val fast = parseDateBytes(b, ts, te)
          if (dateFast) fast
          else try LocalDate.parse(
            new String(b, ts, te - ts, java.nio.charset.StandardCharsets.US_ASCII))
            .toEpochDay.toInt
          catch { case _: java.time.format.DateTimeParseException => null }
        }
      case TimestampType =>
        val ts = trimStart(b, s, e)
        val te = trimEnd(b, ts, e)
        if (ts >= te) null
        else {
          val fast = parseTimestampBytes(b, ts, te)
          if (tsFast) fast
          else DelimV2.parseExternal(
            new String(b, ts, te - ts, java.nio.charset.StandardCharsets.US_ASCII),
            TimestampType)
        }
      case other =>
        throw new IllegalArgumentException(s"graft-delim: unsupported type $other")
    }
  }

  private var topNBatch: ColumnarBatch = null
  private var topNDone = false

  /** TopN drain: per line, parse ONLY the sort keys from their byte
    * spans and reject against the heap's worst; the remaining output
    * fields are parsed only for the rows that ENTER the heap (≤ k
    * accepts over the whole split, vs every column for every row on
    * the naive path — on a selective LIMIT that is the entire scan
    * cost). String keys are zero-copy views during the compare and
    * copied only on accept.
    */
  private def nextTopN(): Boolean = {
    if (topNDone) return false
    val k = math.max(1, limit)
    val heap = new java.util.PriorityQueue[Array[Any]](k, topNCmp.reversed())
    def buildRow(buf: Array[Byte]): Array[Any] = {
      val out = new Array[Any](outputIdx.length)
      var vi = 0
      while (vi < outputIdx.length) {
        val si = outputIdx(vi)
        out(vi) =
          if (filePos(si) >= 0) internalOf(si, filePos(si), buf) match {
            case u: UTF8String => u.copy() // span view → owned bytes
            case v => v
          }
          else DelimV2.toInternal(constExt(si), types(si))
        vi += 1
      }
      out
    }
    if (limit > 0) while (!finished) {
      if (!lines.nextLineSpan()) finished = true
      else {
        val buf = lines.lineBuf
        walkFields(buf, lines.lineOff, lines.lineLen)
        var pass = true
        if (predicates.nonEmpty) {
          var i = 0
          while (i < filterIdx.length) {
            val si = filterIdx(i)
            if (filePos(si) >= 0) scratch(si) = externalOf(si, filePos(si), buf)
            i += 1
          }
          var p = 0
          while (pass && p < predicates.length) {
            pass = predicates(p)(scratch); p += 1
          }
        }
        if (pass) {
          if (heap.size < k) heap.add(buildRow(buf))
          else {
            // key-only parse + reject against the worst (strict-better
            // enters, ties rejected: Spark's final TakeOrderedAndProject
            // re-sorts the survivors, so any k-best set will do)
            val worst = heap.peek()
            var better = false
            var decided = false
            var i = 0
            while (!decided && i < topNKeys.length) {
              val (vpos, desc, nullsFirst, dt) = topNKeys(i)
              val si = outputIdx(vpos)
              val x =
                if (filePos(si) >= 0) internalOf(si, filePos(si), buf)
                else DelimV2.toInternal(constExt(si), types(si))
              val y = worst(vpos)
              val c =
                if (x == null && y == null) 0
                else if (x == null) { if (nullsFirst) -1 else 1 }
                else if (y == null) { if (nullsFirst) 1 else -1 }
                else { val base = cmpInternal(dt, x, y); if (desc) -base else base }
              if (c != 0) { better = c < 0; decided = true }
              i += 1
            }
            if (decided && better) { heap.poll(); heap.add(buildRow(buf)) }
          }
        }
      }
    }
    // final emission batch: one small batch of the k survivors (order
    // irrelevant — Spark's TakeOrderedAndProject re-sorts the merge)
    val rows = heap.toArray(Array.empty[Array[Any]])
    val outVecs: Array[ColumnVector] = outputIdx.map { si =>
      new OnHeapColumnVector(math.max(rows.length, 1), types(si))
    }.toArray[ColumnVector]
    var r = 0
    while (r < rows.length) {
      var vi = 0
      while (vi < outVecs.length) {
        val v = outVecs(vi).asInstanceOf[OnHeapColumnVector]
        rows(r)(vi) match {
          case null => v.putNull(r)
          case u: UTF8String =>
            val b = u.getBytes
            v.putByteArray(r, b, 0, b.length)
          case x: Int => v.putInt(r, x)
          case x: Long => v.putLong(r, x)
          case x: Double => v.putDouble(r, x)
          case other => throw new IllegalArgumentException(
            s"graft-delim: unsupported type ${other.getClass}")
        }
        vi += 1
      }
      r += 1
    }
    topNBatch = new ColumnarBatch(outVecs, rows.length)
    topNDone = true
    rows.nonEmpty
  }

  override def next(): Boolean = {
    if (topN.nonEmpty) return nextTopN()
    if (finished) return false
    val n = fillBatch(limit)
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch =
    if (topNBatch != null) topNBatch else batch

  override def close(): Unit = {
    batch.close()
    if (topNBatch != null) topNBatch.close()
    in.close()
  }
}

private[v2] object DelimColumnarReader {
  /** Rows per output batch (Spark's own vectorized readers default to
    * 4096). */
  val BatchSize = 4096

  /** Exact powers of ten (10^k is exactly representable for k ≤ 22). */
  val Pow10: Array[Double] = (0 to 22).map(k => math.pow(10, k)).toArray
}
