package graft.ext

import graft.SparkFunSuite
import graft.core.Tables

class MultimodalSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val media = Multimodal.withSyntheticMedia(Tables.documents(spark, sf001))

  /** Reference WAV writer — java.nio, independent of the Spark-side hex
    * assembly, so the two constructions cross-check each other.
    */
  private def refWav(samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataSize); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(8000); bb.putInt(16000) // rate, byte rate
    bb.putShort(2); bb.putShort(16) // block align, bits
    bb.put("data".getBytes); bb.putInt(dataSize)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("synthetic media is binary with cycling kind") {
    val row = media.filter($"doc_id" === 3L).head
    assert(row.getAs[Array[Byte]]("media").nonEmpty)
    assert(row.getString(2) == "image") // 3 % 3 == 0 → image
    assert(media.filter($"doc_id" === 4L).head.getString(2) == "audio")
  }

  test("mediaStats computes byte length and frame count in-plan") {
    val stats = Multimodal.mediaStats(media)
    val r = stats.filter($"doc_id" === 0L).head
    val len = r.getLong(2)
    assert(len > 0)
    assert(r.getInt(3) == math.ceil(len / 256.0).toInt)
  }

  test("sampleFrames slices FrameBytes-sized chunks with stride") {
    val bytes = Array.tabulate(600)(_.toByte)
    val df = Seq((1L, bytes)).toDF("doc_id", "media")
    val frames = Multimodal.sampleFrames(df, stride = 2)
      .head.getSeq[Array[Byte]](1)
    assert(frames.length == 2) // frames 0 and 2 of ceil(600/256)=3
    assert(frames(0).length == 256)
    assert(frames(0).toSeq == bytes.slice(0, 256).toSeq)
    assert(frames(1).toSeq == bytes.slice(512, 600).toSeq)
  }

  test("expression-built WAV bytes equal the java.nio reference writer") {
    val texts = Seq("hello world", "a", "", "The Quick Brown Fox 123!?")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wavs = Multimodal.withSyntheticWav(got)
      .orderBy("doc_id").collect().map(_.getAs[Array[Byte]]("media"))
    for ((t, i) <- texts.zipWithIndex) {
      val want = refWav(t.map(c => (c.toInt * 256 - 32768).toShort).toArray)
      assert(wavs(i).toSeq == want.toSeq, s"text '$t'")
    }
  }

  test("parseWav decodes the real header and exact sample statistics") {
    val samples = Array[Short](-32768, 0, 1, -1, 32767, 1000)
    val f = Multimodal.parseWav(7L, refWav(samples))
    assert(f.valid && f.audio_format == 1 && f.n_channels == 1)
    assert(f.sample_rate == 8000L && f.bits_per_sample == 16)
    assert(f.n_samples == 6L)
    assert(f.sum_sample == samples.map(_.toLong).sum)
    assert(f.min_sample == -32768L && f.max_sample == 32767L)
    // zero samples: a valid, empty WAV
    val e = Multimodal.parseWav(8L, refWav(Array.empty))
    assert(e.valid && e.n_samples == 0L && e.sum_sample == 0L)
  }

  test("parseWav skips unknown chunks with RIFF word alignment") {
    val base = refWav(Array[Short](5, -5))
    // splice an odd-sized junk chunk between fmt and data: 3 bytes of
    // payload + 1 alignment pad that the walker must skip
    val junk = "LIST".getBytes ++ Array[Byte](3, 0, 0, 0) ++ Array[Byte](9, 9, 9, 0)
    val spliced = base.slice(0, 36) ++ junk ++ base.slice(36, base.length)
    val fixed = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fixed.putInt(4, spliced.length - 8) // patch riff size
    val f = Multimodal.parseWav(9L, fixed.array())
    assert(f.valid && f.n_samples == 2L && f.sum_sample == 0L)
  }

  test("parseWav flags every malformation instead of throwing") {
    val ok = refWav(Array[Short](1, 2, 3))
    def bad(mutate: Array[Byte] => Array[Byte]): Boolean =
      Multimodal.parseWav(1L, mutate(ok.clone())).valid
    assert(!bad(_.slice(0, 11)))                       // truncated header
    assert(!bad { b => b(0) = 'X'.toByte; b })         // wrong magic
    assert(!bad { b => b(8) = 'X'.toByte; b })         // not WAVE
    assert(!bad(_.slice(0, 40)))                       // data chunk cut off
    assert(!bad { b => b(4) = (b(4) + 1).toByte; b })  // riff size lies
    assert(!bad { b => b(20) = 2; b })                 // non-PCM format
    assert(!bad { b => b(22) = 2; b })                 // stereo unsupported
    assert(Multimodal.parseWav(1L, null).valid == false)
    assert(Multimodal.parseWav(1L, Array.empty[Byte]).valid == false)
  }

  test("parsePng verifies big-endian fields, chunk CRCs, and structure") {
    import org.apache.spark.sql.functions.lit
    val ok = spark.range(1).select(
        Multimodal.pngBytes(lit("hello png"), lit(0L)).as("b"))
      .head.getAs[Array[Byte]](0)
    val f = Multimodal.parsePng(1L, ok)
    assert(f.valid && f.width == 9L && f.height == 'h'.toLong &&
      f.bit_depth == 8 && f.color_type == 2 && f.interlace == 0)
    def bad(mutate: Array[Byte] => Array[Byte]): Boolean =
      Multimodal.parsePng(1L, mutate(ok.clone())).valid
    assert(!bad(_.slice(0, 15)))                       // truncated mid-IHDR
    assert(!bad { b => b(0) = 'X'.toByte; b })         // wrong signature
    // a single flipped FIELD byte must fail via the CRC check alone
    assert(!bad { b => b(16) = (b(16) + 1).toByte; b })
    // a flipped CRC byte with intact fields must also fail
    assert(!bad { b => b(30) = (b(30) ^ 0x01).toByte; b })
    assert(!bad(_.dropRight(12)))                      // IEND missing
    assert(!Multimodal.parsePng(1L, null).valid)
    // the arithmetic corruption the query injects = CRC-only breakage
    val crcBroken = spark.range(1).select(
        Multimodal.pngBytes(lit("hello png"), lit(1L)).as("b"))
      .head.getAs[Array[Byte]](0)
    assert(!Multimodal.parsePng(1L, crcBroken).valid)
    // and the Spark-built CRC equals the JVM reference implementation
    val crc = new java.util.zip.CRC32
    crc.update(ok, 12, 17)
    val stored = ((ok(29) & 0xffL) << 24) | ((ok(30) & 0xffL) << 16) |
      ((ok(31) & 0xffL) << 8) | (ok(32) & 0xffL)
    assert(crc.getValue == stored)
  }

  test("decodeWav runs batched per partition and matches parseWav row-wise") {
    val docs = Tables.documents(spark, sf001).filter($"doc_id" < 50)
    val wav = Multimodal.withSyntheticWav(docs)
    val out = Multimodal.decodeWav(spark, wav).collect()
    assert(out.length == 50 && out.forall(_.valid))
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    for (f <- out) {
      val t = texts(f.doc_id)
      assert(f.n_samples == t.length.toLong)
      assert(f.sum_sample == t.map(c => c.toInt * 256L - 32768L).sum)
    }
  }
}
