package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeFn.row

/** Real image-container header parsing — pure byte arithmetic, no
  * codec library. This replaces the multimodal decode stub for the
  * most common metadata ask (dimensions) on the two dominant image
  * containers:
  *
  *  - PNG: 8-byte signature, then the IHDR chunk is REQUIRED to be
  *    first (PNG spec §5.6) — width/height are the two big-endian
  *    u32s at byte offsets 16/20.
  *  - JPEG: SOI marker, then a marker-segment walk to the first
  *    start-of-frame (SOF0/1/2/…) segment, whose payload is
  *    [precision u8][height u16][width u16]. The walk skips APPn /
  *    DQT / DHT / COM segments by their declared big-endian lengths,
  *    tolerates marker fill bytes (0xFF padding, JPEG spec B.1.1.2),
  *    and stops at SOS/EOI (dimensions must precede scan data).
  *
  * Anything truncated, unsigned-overflowing, or not PNG/JPEG parses
  * to None — callers decide whether that's a filter or an error
  * column. Pixel decode (and audio/video containers) remain behind
  * the [[Multimodal.StubCodec]] seam.
  */
object ImageHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def u32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** (kind, width, height) of a PNG, JPEG, GIF, WebP, or TIFF
    * payload, else None. */
  def parse(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b == null) None
    else if (isPng(b)) parsePng(b)
    else if (b.length >= 2 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8)
      parseJpeg(b)
    else if (isGif(b)) parseGif(b)
    else if (isWebp(b)) parseWebp(b)
    else if (isTiff(b)) parseTiff(b)
    else None
  }

  /** TIFF byte-order mark + magic 42 in THAT byte order — the one
    * header family member that carries its endianness in-band
    * ('II' little, 'MM' big), so one parser must read both. */
  private def isTiff(b: Array[Byte]): Boolean =
    b.length >= 8 &&
      ((u8(b, 0) == 'I' && u8(b, 1) == 'I' && u16le(b, 2) == 42) ||
        (u8(b, 0) == 'M' && u8(b, 1) == 'M' && u16(b, 2) == 42))

  /** First-IFD walk for ImageWidth (tag 256) / ImageLength (tag
    * 257), honoring the file's own byte order and both legal value
    * types (SHORT inline in the leading 2 bytes of the value field,
    * LONG filling it) — the classic TIFF gotchas. Dims must be
    * 1-count entries; missing/zero/overflow dims parse to None, as
    * does an IFD running past the buffer (fail-closed, never a read
    * past the end). */
  private def parseTiff(b: Array[Byte]): Option[(String, Int, Int)] = {
    val le = u8(b, 0) == 'I'
    def rd16(i: Int): Int = if (le) u16le(b, i) else u16(b, i)
    def rd32(i: Int): Long = if (le) u32le(b, i) else u32(b, i)
    val ifd = rd32(4)
    if (ifd < 8 || ifd + 2 > b.length) return None
    val at0 = ifd.toInt
    val n = rd16(at0)
    if (at0 + 2 + 12L * n > b.length) return None
    var w = -1L; var h = -1L
    var k = 0
    while (k < n) {
      val e = at0 + 2 + 12 * k
      val tag = rd16(e)
      if (tag == 256 || tag == 257) {
        val typ = rd16(e + 2)
        val cnt = rd32(e + 4)
        if (cnt != 1L) return None
        val v: Long = typ match {
          case 3 => rd16(e + 8).toLong // SHORT, inline left 2 bytes
          case 4 => rd32(e + 8)        // LONG, whole value field
          case _ => return None
        }
        if (tag == 256) w = v else h = v
      }
      k += 1
    }
    if (w >= 1 && h >= 1 && w <= Int.MaxValue && h <= Int.MaxValue)
      Some(("tiff", w.toInt, h.toInt))
    else None
  }

  /** "GIF87a"/"GIF89a" signature + the 7-byte logical screen
    * descriptor (the minimum any decoder needs). */
  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 13 && u8(b, 0) == 'G' && u8(b, 1) == 'I' &&
      u8(b, 2) == 'F' && u8(b, 3) == '8' &&
      (u8(b, 4) == '7' || u8(b, 4) == '9') && u8(b, 5) == 'a'

  private def parseGif(b: Array[Byte]): Option[(String, Int, Int)] = {
    // logical screen width/height: unsigned LITTLE-endian 16-bit at
    // bytes 6 and 8 (GIF is an LE format, unlike PNG)
    val w = u16le(b, 6); val h = u16le(b, 8)
    if (w < 1 || h < 1) None else Some(("gif", w, h))
  }

  // 20 = RIFF header + first chunk header; each payload form checks
  // its own length (the smallest legal file, a VP8L, is 25 bytes)
  private def isWebp(b: Array[Byte]): Boolean =
    b.length >= 20 && u8(b, 0) == 'R' && u8(b, 1) == 'I' &&
      u8(b, 2) == 'F' && u8(b, 3) == 'F' && u8(b, 8) == 'W' &&
      u8(b, 9) == 'E' && u8(b, 10) == 'B' && u8(b, 11) == 'P'

  /** All three WebP payload forms, each pure byte/bit arithmetic:
    *  - `VP8 ` (lossy): 3-byte frame tag, the 9D 01 2A sync code,
    *    then two LE u16s whose LOW 14 bits are the dims (the top 2
    *    bits are the upscale hint).
    *  - `VP8L` (lossless): the 0x2F signature byte, then dims-minus-
    *    one as two 14-bit fields bit-packed LSB-first across 4
    *    bytes.
    *  - `VP8X` (extended): 4 flag/reserved bytes, then canvas
    *    dims-minus-one as 24-bit LE values. */
  private def parseWebp(b: Array[Byte]): Option[(String, Int, Int)] = {
    val fourcc = new String(b.slice(12, 16), "US-ASCII")
    fourcc match {
      case "VP8 " =>
        // chunk payload at 20: frame tag (3), sync 9D 01 2A (3)
        if (b.length < 30 || u8(b, 23) != 0x9d || u8(b, 24) != 0x01 ||
          u8(b, 25) != 0x2a) return None
        val w = u16le(b, 26) & 0x3fff
        val h = u16le(b, 28) & 0x3fff
        if (w < 1 || h < 1) None else Some(("webp", w, h))
      case "VP8L" =>
        if (b.length < 25 || u8(b, 20) != 0x2f) return None
        val bits = u32le(b, 21)
        val w = (bits & 0x3fff).toInt + 1
        val h = ((bits >> 14) & 0x3fff).toInt + 1
        Some(("webp", w, h))
      case "VP8X" =>
        if (b.length < 30) return None
        val w = (u8(b, 24) | (u8(b, 25) << 8) | (u8(b, 26) << 16)) + 1
        val h = (u8(b, 27) | (u8(b, 28) << 8) | (u8(b, 29) << 16)) + 1
        Some(("webp", w, h))
      case _ => None
    }
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(b, 0, 8), PngSig)

  private def parsePng(b: Array[Byte]): Option[(String, Int, Int)] = {
    // sig(8) + IHDR length(4) + type(4) + width(4) + height(4)
    if (b.length < 24) return None
    if (u32(b, 8) != 13L) return None // IHDR payload is exactly 13 bytes
    if (!(u8(b, 12) == 'I' && u8(b, 13) == 'H' &&
        u8(b, 14) == 'D' && u8(b, 15) == 'R')) return None
    val w = u32(b, 16); val h = u32(b, 20)
    // spec caps dims at 2^31-1; 0 is invalid
    if (w < 1 || h < 1 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some(("png", w.toInt, h.toInt))
  }

  private def parseJpeg(b: Array[Byte]): Option[(String, Int, Int)] = {
    val n = b.length
    var i = 2
    while (i + 1 < n) {
      if (u8(b, i) != 0xff) return None // lost marker sync
      var j = i
      while (j + 1 < n && u8(b, j + 1) == 0xff) j += 1 // fill bytes
      if (j + 1 >= n) return None
      val marker = u8(b, j + 1)
      i = j + 2
      marker match {
        case 0xd8 | 0x01 => // SOI / TEM: standalone, no length
        case m if m >= 0xd0 && m <= 0xd7 => // RSTn: standalone
        case 0xd9 => return None // EOI before any SOF
        case 0xda => return None // SOS before any SOF
        case m if (m >= 0xc0 && m <= 0xcf) &&
            m != 0xc4 && m != 0xc8 && m != 0xcc => // SOFn
          if (i + 6 >= n) return None
          val h = u16(b, i + 3); val w = u16(b, i + 5)
          return if (w < 1 || h < 1) None else Some(("jpeg", w, h))
        case _ => // APPn, DQT, DHT, COM, …: skip by declared length
          if (i + 1 >= n) return None
          val len = u16(b, i)
          if (len < 2) return None
          i += len
      }
    }
    None
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("kind" -> StringType, "width" -> IntegerType,
      "height" -> IntegerType)

  /** [[parse]] as an `InternalRow` for the `image_dims`
    * codegen path (called from generated Java — keep the signature
    * static-friendly). Null = not a parseable image. */
  def parseRow(b: Array[Byte]): InternalRow = parse(b) match {
    case Some((kind, w, h)) => InternalRow(UTF8String.fromString(kind), w, h)
    case None => null
  }

  private def u16le(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** REAL pixel-payload decode for the codec-free image format:
    * 24-bit uncompressed BMP (BI_RGB) rows are raw BGR bytes — no
    * entropy coding, just layout (bottom-up rows, each padded to a
    * 4-byte boundary). Per-file channel statistics over the pixels
    * ACTUALLY PRESENT (truncation-tolerant like
    * [[AudioHeaders.levels]]):
    * (width, height, n_px, sum_r, sum_g, sum_b) — exact integer
    * sums, so results hash bit-for-bit against a positional oracle
    * replay; mean channel values derive at the edge. None for
    * non-BMP, compressed (BI_RGB only), non-24bpp, or top-down
    * (negative height) payloads — compressed image formats stay
    * behind the declared stub. */
  def bmpLevels(b: Array[Byte]): Option[(Int, Int, Long, Long, Long, Long)] = {
    if (b == null || b.length < 54) return None
    if (u8(b, 0) != 'B' || u8(b, 1) != 'M') return None
    val dataOff = u32le(b, 10)
    if (u32le(b, 14) < 40) return None // BITMAPINFOHEADER at least
    val w = u32le(b, 18)
    val h = u32le(b, 22)
    // i32 fields; unsigned read > Int.MaxValue means negative
    // (top-down) or absurd — reject both
    if (w < 1 || h < 1 || w > (1L << 20) || h > (1L << 20)) return None
    if (u16le(b, 26) != 1) return None // planes
    if (u16le(b, 28) != 24) return None // 24bpp only
    if (u32le(b, 30) != 0) return None // BI_RGB (uncompressed) only
    val stride = ((3 * w + 3) / 4) * 4
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var n = 0L
    // walk only rows with at least one byte present: a ~60-byte
    // crafted header declaring 2^20 × 2^20 pixels must not spin
    // ~10^12 empty iterations on an executor (this is a registered
    // user-facing SQL function — malformed input is a given). The
    // byte-presence test per pixel is unchanged, so truncated
    // payloads sum exactly the same pixels as the unbounded walk.
    val rowsPresent =
      if (dataOff >= b.length) 0L
      else ((b.length - dataOff) + stride - 1) / stride
    var y = 0L
    while (y < math.min(h, rowsPresent)) {
      val row = dataOff + y * stride
      var x = 0L
      // pixel offsets grow monotonically within a row: past-the-end
      // once means past-the-end for the rest of the row
      while (x < w && row + x * 3 + 3 <= b.length) {
        val p = row + x * 3
        sumB += u8(b, p.toInt)
        sumG += u8(b, p.toInt + 1)
        sumR += u8(b, p.toInt + 2)
        n += 1
        x += 1
      }
      y += 1
    }
    Some((w.toInt, h.toInt, n, sumR, sumG, sumB))
  }

  /** The `bmpLevelsRow` result row. */
  val bmpLevelsRowType: StructType =
    row("width" -> IntegerType, "height" -> IntegerType, "n_px" -> LongType,
      "sum_r" -> LongType, "sum_g" -> LongType, "sum_b" -> LongType)

  /** [[bmpLevels]] as an `InternalRow` for the
    * `image_levels` codegen path. Null = not an
    * uncompressed 24-bit BMP. */
  def bmpLevelsRow(b: Array[Byte]): InternalRow = bmpLevels(b) match {
    case Some((w, h, n, r, g, bl)) => InternalRow(w, h, n, r, g, bl)
    case None => null
  }

  /** Inflated-scanline budget for [[pngLevels]]: a crafted IHDR
    * declaring huge dimensions must not allocate gigabytes in a
    * user-facing SQL function. 64 MiB covers a 4K RGB image
    * (3840×2160×3 ≈ 24 MiB) with room to spare. */
  private val MaxPngRaw = 1 << 26

  /** Samples per pixel for the five PNG color types:
    * 0 = grayscale, 2 = truecolor RGB, 3 = palette index,
    * 4 = gray+alpha, 6 = RGBA. -1 = not a supported type. */
  private def pngSamples(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    case _ => -1
  }

  /** Adam7 pass dimensions for a w×h image — (x0, y0, dx, dy) per
    * pass (PNG spec §8.2); empty passes (zero rows or columns on
    * small images) are dropped. Each pass is an independent
    * sub-image: its scanlines filter against the PASS's own previous
    * row, so the decode walks passes sequentially with a reset
    * filter context. */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def adam7Passes(w: Long, h: Long): Seq[(Int, Int)] =
    Adam7.toSeq.map { case (x0, y0, dx, dy) =>
      (((w - x0 + dx - 1) / dx).toInt, ((h - y0 + dy - 1) / dy).toInt)
    }.filter(p => p._1 > 0 && p._2 > 0)

  /** REAL PNG pixel decode — no codec library: PNG's IDAT payload is
    * a zlib/DEFLATE stream and `java.util.zip.Inflater` is public
    * JDK, so decompression + scanline un-filtering (filter types
    * 0–4, pure byte arithmetic per the PNG spec §9) is all that
    * stands between the container walk and the pixels. Scope: ALL
    * FIVE color types at bit depth 8, the four sample types
    * (0/2/4/6) at bit depth 16 (full 0–65535 sample values summed —
    * palette entries are 8-bit by spec, so type 3 stays depth-8),
    * and BOTH interlace methods (none / Adam7 — seven independent
    * sub-image passes, each with its own filter context; levels are
    * position-free so pass sums just accumulate). Truecolor
    * (2) and RGBA (6) sum R,G,B per channel (alpha read for
    * filtering, excluded from sums); grayscale (0) and gray+alpha
    * (4) sum the gray sample into all three channels (the
    * luminance-as-levels convention, so the output contract is
    * type-independent); palette (3) resolves each index through the
    * PLTE chunk — a missing/short PLTE or an out-of-range index is
    * corrupt → None. Other depths (1/2/4-bit packed) return None.
    * Multiple IDAT chunks concatenate (encoders split large
    * streams); chunk CRCs are NOT verified and the zlib Adler32
    * trailer is skipped (`Inflater(nowrap)` after validating the
    * 2-byte zlib header) — a tolerant parser, so spec-built
    * stored-mode streams and real encoder output decode identically
    * (ImageIO round-trip spec-proven per color type). Same output
    * contract as [[bmpLevels]]: (width, height, n_px, sum_r, sum_g,
    * sum_b), exact integer channel sums. A stream that does not
    * inflate to exactly h·(1+bpp·w) bytes is corrupt → None (unlike
    * BMP truncation there is no meaningful partial decode:
    * un-filtering is sequential). */
  def pngLevels(b: Array[Byte]): Option[(Int, Int, Long, Long, Long, Long)] = {
    if (b == null || b.length < 33 || !isPng(b)) return None
    if (u32(b, 8) != 13L) return None
    if (!(u8(b, 12) == 'I' && u8(b, 13) == 'H' &&
        u8(b, 14) == 'D' && u8(b, 15) == 'R')) return None
    val w = u32(b, 16); val h = u32(b, 20)
    if (w < 1 || h < 1) return None
    val colorType = u8(b, 25)
    val depth = u8(b, 24)
    val interlace = u8(b, 28)
    val samples = pngSamples(colorType)
    // depth 8 (all five color types) or 16 (sample types — palette
    // entries are always 8-bit, so type 3 stays depth-8-only);
    // deflate, adaptive filtering, no interlace (0) or Adam7 (1)
    if (samples < 0 || u8(b, 26) != 0 || u8(b, 27) != 0) return None
    if (depth != 8 && !(depth == 16 && colorType != 3)) return None
    if (interlace != 0 && interlace != 1) return None
    val bpp = samples * (depth / 8)
    val passes: Seq[(Int, Int)] =
      if (interlace == 0) Seq((w.toInt, h.toInt)) else adam7Passes(w, h)
    val rawLen = passes.map { case (pw, ph) =>
      ph.toLong * (1L + bpp.toLong * pw) }.sum
    if (rawLen > MaxPngRaw) return None
    // concatenate IDAT chunk payloads (CRCs skipped, not verified);
    // pick up the PLTE palette on the way when the type needs it
    val idat = new java.io.ByteArrayOutputStream()
    var palette: Array[Byte] = null
    var off = 8 + 25 // past the IHDR chunk (4 len + 4 type + 13 + 4 crc)
    var done = false
    while (!done && off + 8 <= b.length) {
      val len = u32(b, off)
      if (len > b.length - off - 8) return None // truncated chunk
      val isIdat = u8(b, off + 4) == 'I' && u8(b, off + 5) == 'D' &&
        u8(b, off + 6) == 'A' && u8(b, off + 7) == 'T'
      val isIend = u8(b, off + 4) == 'I' && u8(b, off + 5) == 'E' &&
        u8(b, off + 6) == 'N' && u8(b, off + 7) == 'D'
      val isPlte = u8(b, off + 4) == 'P' && u8(b, off + 5) == 'L' &&
        u8(b, off + 6) == 'T' && u8(b, off + 7) == 'E'
      if (isIdat) idat.write(b, off + 8, len.toInt)
      if (isPlte) palette =
        java.util.Arrays.copyOfRange(b, off + 8, off + 8 + len.toInt)
      if (isIend) done = true
      off += 8 + len.toInt + 4
    }
    if (colorType == 3 && (palette == null || palette.length % 3 != 0))
      return None
    val z = idat.toByteArray
    // zlib header: CM must be 8 (deflate), preset dictionaries (FDICT)
    // unsupported; the Adler32 trailer is deliberately not checked
    if (z.length < 3 || (z(0) & 0x0f) != 8 || (z(1) & 0x20) != 0)
      return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(z, 2, z.length - 2)
      var total = 0
      var stalled = false
      while (total < raw.length && !inf.finished() && !stalled) {
        val n = inf.inflate(raw, total, raw.length - total)
        total += n
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          stalled = true
      }
      if (total < raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // walk the passes sequentially (one pass when non-interlaced),
    // each with its own filter context; levels are position-free so
    // the per-pass sums just accumulate
    val sums = new Array[Long](3)
    var passOff = 0
    passes.foreach { case (pw, ph) =>
      if (!unfilterPassAndSum(raw, passOff, pw, ph, bpp, depth,
          colorType, palette, sums)) return None
      passOff += ph * (1 + bpp * pw)
    }
    Some((w.toInt, h.toInt, w * h, sums(0), sums(1), sums(2)))
  }

  /** PNG §9 scanline reconstruction over filter types 0–4 (None /
    * Sub / Up / Average / Paeth) + channel summation in the same
    * pass, for ONE (sub-)image at `off` in the inflated stream.
    * Filtering operates on raw BYTES with the pixel's byte width
    * (`bpp`) as the left-neighbor distance, identically for every
    * color type and depth; only the accumulation differs — depth 8
    * sums each reconstructed byte per the color-type channel
    * convention ([[pngLevels]]), depth 16 pairs bytes big-endian and
    * sums the full 0–65535 sample values (exact integers, so the
    * 16-bit oracle replay hash-matches without a rounding
    * convention). */
  private def unfilterPassAndSum(raw: Array[Byte], off: Int, w: Int,
      h: Int, bpp: Int, depth: Int, colorType: Int,
      palette: Array[Byte], sums: Array[Long]): Boolean = {
    val stride = bpp * w
    val prev = new Array[Int](stride)
    java.util.Arrays.fill(prev, 0)
    val cur = new Array[Int](stride)
    var y = 0
    while (y < h) {
      val base = off + y * (stride + 1)
      val ft = raw(base) & 0xff
      if (ft > 4) return false
      var x = 0
      while (x < stride) {
        val v = raw(base + 1 + x) & 0xff
        val a = if (x >= bpp) cur(x - bpp) else 0
        val up = prev(x)
        val c = if (x >= bpp) prev(x - bpp) else 0
        val recon = (ft: @annotation.switch) match {
          case 0 => v
          case 1 => (v + a) & 0xff
          case 2 => (v + up) & 0xff
          case 3 => (v + ((a + up) >> 1)) & 0xff
          case 4 =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a
              else if (pb <= pc) up else c
            (v + pred) & 0xff
        }
        cur(x) = recon
        if (depth == 8) {
          (colorType: @annotation.switch) match {
            case 2 => (x % 3: @annotation.switch) match {
              case 0 => sums(0) += recon
              case 1 => sums(1) += recon
              case 2 => sums(2) += recon
            }
            case 6 => (x % 4: @annotation.switch) match {
              case 0 => sums(0) += recon
              case 1 => sums(1) += recon
              case 2 => sums(2) += recon
              case 3 => () // alpha: filtered through, never summed
            }
            case 0 =>
              sums(0) += recon; sums(1) += recon; sums(2) += recon
            case 4 =>
              if (x % 2 == 0) {
                sums(0) += recon; sums(1) += recon; sums(2) += recon
              }
            case 3 =>
              if (3 * recon + 2 >= palette.length) return false
              sums(0) += palette(3 * recon) & 0xff
              sums(1) += palette(3 * recon + 1) & 0xff
              sums(2) += palette(3 * recon + 2) & 0xff
          }
        } else if (x % 2 == 1) { // depth 16: big-endian byte pair done
          val v16 = (cur(x - 1) << 8) | recon
          val sIdx = (x / 2) % (bpp / 2)
          (colorType: @annotation.switch) match {
            case 2 => (sIdx: @annotation.switch) match {
              case 0 => sums(0) += v16
              case 1 => sums(1) += v16
              case 2 => sums(2) += v16
            }
            case 6 => (sIdx: @annotation.switch) match {
              case 0 => sums(0) += v16
              case 1 => sums(1) += v16
              case 2 => sums(2) += v16
              case 3 => ()
            }
            case 0 =>
              sums(0) += v16; sums(1) += v16; sums(2) += v16
            case 4 =>
              if (sIdx == 0) {
                sums(0) += v16; sums(1) += v16; sums(2) += v16
              }
          }
        }
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    true
  }

  /** The `pngLevelsRow` result row. */
  val pngLevelsRowType: StructType =
    row("width" -> IntegerType, "height" -> IntegerType, "n_px" -> LongType,
      "sum_r" -> LongType, "sum_g" -> LongType, "sum_b" -> LongType)

  /** [[pngLevels]] as an `InternalRow` for the
    * `png_levels` codegen path. Null = not a
    * decodable 8-bit-depth PNG (any of the five color types). */
  def pngLevelsRow(b: Array[Byte]): InternalRow = pngLevels(b) match {
    case Some((w, h, n, r, g, bl)) => InternalRow(w, h, n, r, g, bl)
    case None => null
  }
}
