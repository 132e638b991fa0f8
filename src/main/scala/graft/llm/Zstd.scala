package graft.llm

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructType}

import graft.functions.NativeFn.row

/** Zstandard FRAME layer (RFC 8878) — the container walk around the
  * entropy coding: magic dispatch including SKIPPABLE frames, the
  * frame-header descriptor (content-size flag widths 1/2/4/8 with
  * the +256 bias at width 2, single-segment, dictionary-ID widths,
  * reserved-bit rejection), the window descriptor's
  * exponent/mantissa size arithmetic, the 3-byte little-endian
  * block headers, and REAL DECODE of every block class — Raw
  * (stored), RLE (one byte × regenerated size), and Compressed
  * (the full entropy layer, [[ZstdFse]]: FSE table construction,
  * Huffman literals, backward bitstreams, sequence execution with
  * repeat offsets) — with the declared frame content size enforced
  * against what the blocks actually regenerate and the content
  * checksum (from-scratch XXH64) verified when present. The walk
  * inverts REAL Zstandard output (`llm_zstd_real` pins it against
  * zstd-jni at levels 1–19; see [[ZstdFse]]). Fixtures for the
  * frame-census query are [[ZstdFixture]]-style closed-form
  * derivations; the frame grammar shapes only bytes the walk must
  * cross. */
object Zstd {

  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  val Magic = 0xfd2fb528L
  val SkippableLo = 0x184d2a50L

  /** Walk every frame. Returns (n_frames, n_skippable, content_len,
    * content_sum, window_sum) — content_sum is the sum of DECODED
    * byte values (unsigned), the proof the payloads were actually
    * regenerated; window_sum sums the window-descriptor sizes of
    * non-single-segment frames. None fail-closed (truncation,
    * reserved bits, malformed entropy sections, content-size or
    * checksum mismatch, wrong/absent dictionary, bomb cap). */
  def parse(b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] =
    walk(b).map { case (f, s, l, cs, w, _) => (f, s, l, cs, w) }

  /** [[parse]] plus the decoded bytes themselves — the roundtrip
    * decompressor's entry. Raw and RLE blocks decode here;
    * Compressed blocks route through [[ZstdFse.decodeBlock]]
    * (FSE sequences + Huffman literals; repeat offsets, Repeat-mode
    * tables and the Treeless Huffman table thread per frame). */
  def walk(b: Array[Byte], dict: ZstdFse.Dict = null)
      : Option[(Long, Long, Long, Long, Long, Array[Byte])] = {
    if (b == null || b.length < 4) return None
    var i = 0
    var frames = 0L
    var skippable = 0L
    var contentLen = 0L
    var windowSum = 0L
    val out = new ZstdFse.Out(1 << 30) // bomb cap
    while (i < b.length) {
      if (i + 4 > b.length) return None
      val magic = u32le(b, i)
      i += 4
      if ((magic & 0xfffffff0L) == SkippableLo) {
        if (i + 4 > b.length) return None
        val n = u32le(b, i)
        i += 4
        if (i + n > b.length) return None
        i += n.toInt
        skippable += 1
      } else if (magic == Magic) {
        if (i >= b.length) return None
        val fhd = b(i) & 0xff
        i += 1
        if ((fhd & 0x08) != 0) return None // reserved bit
        val fcsFlag = fhd >> 6
        val single = (fhd & 0x20) != 0
        val didFlag = fhd & 0x03
        if (!single) {
          if (i >= b.length) return None
          val wd = b(i) & 0xff
          i += 1
          val base = 1L << (10 + (wd >> 3))
          windowSum += base + (base / 8) * (wd & 7)
        }
        val didLen = Array(0, 1, 2, 4)(didFlag)
        if (didLen > 0) {
          if (i + didLen > b.length) return None
          var did = 0L
          var k = didLen - 1
          while (k >= 0) { did = (did << 8) | (b(i + k) & 0xffL); k -= 1 }
          // §3.1.1: a frame declaring a dictionary id needs THAT
          // dictionary — decoding with none, or the wrong one, is
          // the spec's corruption case, not a silent mis-decode
          if (did != 0 && (dict == null || dict.id != did)) return None
        }
        i += didLen
        val fcsLen =
          if (fcsFlag == 0) { if (single) 1 else 0 }
          else Array(0, 2, 4, 8)(fcsFlag)
        if (i + fcsLen > b.length) return None
        var declared = -1L
        if (fcsLen > 0) {
          declared = 0L
          var k = fcsLen - 1
          while (k >= 0) { declared = (declared << 8) | (b(i + k) & 0xffL); k -= 1 }
          if (fcsLen == 2) declared += 256
        }
        i += fcsLen
        // block walk — every class DECODES into the frame buffer
        out.frameStart = out.len
        val ctx = new ZstdFse.FrameCtx(dict)
        var last = false
        while (!last) {
          if (i + 3 > b.length) return None
          val hdr = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
            ((b(i + 2) & 0xffL) << 16)
          i += 3
          last = (hdr & 1) != 0
          val btype = ((hdr >> 1) & 3).toInt
          val size = (hdr >> 3).toInt
          btype match {
            case 0 => // Raw: size bytes verbatim
              if (i + size > b.length) return None
              if (!out.append(b, i, size)) return None
              i += size
            case 1 => // RLE: one byte, regenerated `size` times
              if (i >= b.length) return None
              if (!out.appendRle(b(i), size)) return None
              i += 1
            case 2 => // Compressed: the FSE entropy layer
              if (i + size > b.length) return None
              if (!ZstdFse.decodeBlock(b, i, size, out, ctx)) return None
              i += size
            case _ => return None // reserved block type
          }
        }
        val regen = (out.len - out.frameStart).toLong
        if (declared >= 0 && declared != regen) return None
        if ((fhd & 0x04) != 0) { // content checksum: XXH64 low 32, LE
          if (i + 4 > b.length) return None
          val stored = u32le(b, i)
          i += 4
          if ((out.xxh64From(out.frameStart) & 0xffffffffL) != stored)
            return None
        }
        contentLen += regen
        frames += 1
      } else return None
    }
    Some((frames, skippable, contentLen, out.sumFrom(0), windowSum,
      out.bytes))
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("n_frames" -> LongType, "n_skippable" -> LongType,
      "content_len" -> LongType, "content_sum" -> LongType,
      "window_sum" -> LongType)

  def parseRow(b: Array[Byte]): InternalRow = parse(b) match {
    case Some((f, s, l, cs, w)) => InternalRow(f, s, l, cs, w)
    case None => null
  }

  // ------------------------------------------------------------------
  // Fixture derivations (`mm_zstd_frames`) — closed-form in doc_id.

  def nFramesOf(docId: Long): Int = (docId % 3).toInt + 1
  def hasSkipOf(docId: Long): Boolean = docId % 2 == 0
  def singleOf(docId: Long, f: Int): Boolean = (docId + f) % 2 == 0
  def rawLenOf(docId: Long, f: Int): Int = 10 + ((docId + f) % 30).toInt
  def rawByteOf(docId: Long, f: Int, k: Int): Int =
    ((docId * 5 + 7L * k + f) % 251).toInt
  def rleByteOf(docId: Long, f: Int): Int = ((docId + 3L * f) % 251).toInt
  def rleLenOf(docId: Long): Int = 5 + (docId % 9).toInt
  def windowByteOf(docId: Long, f: Int): Int =
    ((((docId + f) % 5) << 3) | (docId % 8)).toInt
  def skipLenOf(docId: Long): Int = (docId % 16).toInt

  def stream(docId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 24) & 0xff).toInt)
    }
    if (hasSkipOf(docId)) {
      w32(SkippableLo + (docId % 16))
      val n = skipLenOf(docId)
      w32(n)
      var k = 0
      while (k < n) { out.write((docId + k).toInt & 0xff); k += 1 }
    }
    var f = 0
    while (f < nFramesOf(docId)) {
      w32(Magic)
      val single = singleOf(docId, f)
      val total = rawLenOf(docId, f) + rleLenOf(docId)
      // descriptor: fcs flag 0; single-segment bit; no dict id
      out.write(if (single) 0x20 else 0x00)
      if (!single) out.write(windowByteOf(docId, f))
      if (single) out.write(total) // 1-byte content size (< 256)
      // raw block (not last)
      val rl = rawLenOf(docId, f)
      val rawHdr = (rl.toLong << 3) | (0 << 1) | 0
      out.write((rawHdr & 0xff).toInt)
      out.write(((rawHdr >> 8) & 0xff).toInt)
      out.write(((rawHdr >> 16) & 0xff).toInt)
      var k = 0
      while (k < rl) { out.write(rawByteOf(docId, f, k)); k += 1 }
      // RLE block (last)
      val el = rleLenOf(docId)
      val rleHdr = (el.toLong << 3) | (1 << 1) | 1
      out.write((rleHdr & 0xff).toInt)
      out.write(((rleHdr >> 8) & 0xff).toInt)
      out.write(((rleHdr >> 16) & 0xff).toInt)
      out.write(rleByteOf(docId, f))
      f += 1
    }
    out.toByteArray
  }
}
