package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.functions.NativeFn.row

/** Real MP4/ISO-BMFF container metadata — pure byte arithmetic, no
  * codec library, the video sibling of [[ImageHeaders]] (BE) and
  * [[AudioHeaders]] (LE). This closes the last multimodal stub for
  * container METADATA; sample/pixel decode stays behind the
  * [[Multimodal.StubCodec]] seam.
  *
  * ISO 14496-12 box walk:
  *  - boxes are [size u32be][type 4B]; size == 1 switches to a u64
  *    `largesize` at +8; size == 0 means "to end of enclosing box" —
  *    all three handled, and every box must fit inside its parent or
  *    the parse is rejected (no unsigned wraparound walks).
  *  - `moov` holds the movie header `mvhd` (version 0: u32 timescale
  *    at payload+12, u32 duration at +16; version 1: u32 timescale at
  *    +20, u64 duration at +24 — the creation/modification times
  *    widen to u64) and one `trak` per track.
  *  - `trak`/`tkhd` ends in width/height as 16.16 fixed-point u32s
  *    (payload offsets 76/80 for v0, 88/92 for v1). Audio tracks
  *    carry 0×0 — the first trak with nonzero dimensions wins.
  *
  * Anything truncated, inconsistent, or not starting with a
  * plausible top-level box parses to None. */
object VideoHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def u64(b: Array[Byte], i: Int): Long =
    (u32(b, i) << 32) | u32(b, i + 4)

  private def boxType(b: Array[Byte], i: Int): String =
    new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** All boxes of `typ` directly inside [start, end): payload
    * (start, end) pairs, in order. Malformed sizing aborts the walk
    * (returns what was found before the corruption). */
  private def boxes(b: Array[Byte], start: Int, end: Int,
      typ: String): List[(Int, Int)] = {
    var off = start
    val found = List.newBuilder[(Int, Int)]
    while (off + 8 <= end) {
      val size = u32(b, off)
      val (hdr, boxEnd) =
        if (size == 0L) (8, end.toLong)
        else if (size == 1L) {
          if (off + 16 > end) return found.result()
          (16, off + u64(b, off + 8))
        } else (8, off + size)
      if (boxEnd < off + hdr || boxEnd > end) return found.result()
      if (boxType(b, off) == typ)
        found += ((off + hdr, boxEnd.toInt))
      off = boxEnd.toInt
    }
    found.result()
  }

  /** (width, height, timescale, duration) of an MP4 payload, else
    * None. Duration is in `timescale` units (ms = d·1000/timescale). */
  def parse(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 16) return None
    for {
      (ms, me) <- boxes(b, 0, b.length, "moov").headOption
      (ts, dur) <- mvhd(b, ms, me)
      (w, h) <- firstVideoTrack(b, ms, me)
    } yield (w, h, ts, dur)
  }

  private def mvhd(b: Array[Byte], ms: Int, me: Int)
      : Option[(Int, Long)] =
    boxes(b, ms, me, "mvhd").headOption.flatMap { case (ps, pe) =>
      if (pe - ps < 4) None
      else u8(b, ps) match {
        case 0 if pe - ps >= 20 =>
          val ts = u32(b, ps + 12); val d = u32(b, ps + 16)
          if (ts > 0 && ts <= Int.MaxValue) Some((ts.toInt, d)) else None
        case 1 if pe - ps >= 32 =>
          val ts = u32(b, ps + 20); val d = u64(b, ps + 24)
          if (ts > 0 && ts <= Int.MaxValue && d >= 0)
            Some((ts.toInt, d))
          else None
        case _ => None
      }
    }

  private def firstVideoTrack(b: Array[Byte], ms: Int, me: Int)
      : Option[(Int, Int)] =
    boxes(b, ms, me, "trak").iterator.flatMap { case (ts, te) =>
      boxes(b, ts, te, "tkhd").headOption.flatMap { case (ps, pe) =>
        if (pe - ps < 4) None
        else {
          val wOff = u8(b, ps) match {
            case 0 => 76
            case 1 => 88
            case _ => -1
          }
          if (wOff < 0 || pe - ps < wOff + 8) None
          else {
            // 16.16 fixed point; video tracks carry integral dims
            val w = u32(b, ps + wOff) >> 16
            val h = u32(b, ps + wOff + 4) >> 16
            if (w > 0 && h > 0) Some((w.toInt, h.toInt)) else None
          }
        }
      }
    }.nextOption()

  /** The SAMPLE-TABLE walk (§8.5.3 stsz, §8.7.5 stco of ISO
    * 14496-12) — the tables the metadata-only [[parse]] deliberately
    * skips, and what real frame COUNTS come from: first trak's
    * `mdia/minf/stbl`, the sample-size box in BOTH layouts (uniform
    * sample_size != 0 with no per-sample table; per-sample u32
    * entries otherwise), and the chunk-offset entry count. Returns
    * (n_samples, sum_sizes, max_size, n_chunks); fail-closed on
    * nonzero version/flags, a table overrunning its box, or absent
    * boxes. */
  def parseSamples(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    if (b == null || b.length < 16) return None
    for {
      (ms, me) <- boxes(b, 0, b.length, "moov").headOption
      (ts, te) <- boxes(b, ms, me, "trak").headOption
      (ds, de) <- boxes(b, ts, te, "mdia").headOption
      (fs, fe) <- boxes(b, ds, de, "minf").headOption
      (ss, se) <- boxes(b, fs, fe, "stbl").headOption
      z <- boxes(b, ss, se, "stsz").headOption
      c <- boxes(b, ss, se, "stco").headOption
      r <- sampleTables(b, z, c)
    } yield r
  }

  private def sampleTables(b: Array[Byte], z: (Int, Int),
      c: (Int, Int)): Option[(Long, Long, Long, Long)] = {
    val (zs, ze) = z
    val (cs, ce) = c
    if (ze - zs < 12 || ce - cs < 8) return None
    if (u32(b, zs) != 0L || u32(b, cs) != 0L) return None // v0, flags 0
    val sampleSize = u32(b, zs + 4)
    val n = u32(b, zs + 8)
    if (n < 0 || n > Int.MaxValue) return None
    // uniform layout: sum = sampleSize * n can overflow Long on an
    // adversarial header (both fields are unsigned 32-bit) — fail
    // closed like the rest of the walk instead of going negative
    if (sampleSize != 0L && n != 0L && sampleSize > Long.MaxValue / n)
      return None
    val (sum, max) =
      if (sampleSize != 0L) (sampleSize * n, if (n > 0) sampleSize else 0L)
      else {
        if (zs + 12 + 4L * n > ze) return None // table overruns box
        var s = 0L
        var m = 0L
        var k = 0
        while (k < n) {
          val v = u32(b, zs + 12 + 4 * k)
          s += v
          if (v > m) m = v
          k += 1
        }
        (s, m)
      }
    val nc = u32(b, cs + 4)
    if (nc < 0 || cs + 8 + 4L * nc > ce) return None
    Some((n, sum, max, nc))
  }

  /** The `samplesRow` result row. */
  val samplesRowType: StructType =
    row("n_samples" -> LongType, "sum_sizes" -> LongType,
      "max_size" -> LongType, "n_chunks" -> LongType)

  /** [[parseSamples]] as an `InternalRow` for the codegen path. */
  def samplesRow(b: Array[Byte]): InternalRow = parseSamples(b) match {
    case Some((n, s, m, c)) => InternalRow(n, s, m, c)
    case None => null
  }

  private def u32le(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def tag4(b: Array[Byte], i: Int, s: String): Boolean =
    u8(b, i) == s.charAt(0) && u8(b, i + 1) == s.charAt(1) &&
      u8(b, i + 2) == s.charAt(2) && u8(b, i + 3) == s.charAt(3)

  /** REAL AVI main-header decode — the LITTLE-endian legacy video
    * container, the RIFF sibling of the WAV walk in
    * [[AudioHeaders]]: "RIFF" + u32le + "AVI ", then a chunk walk of
    * [id:4][size:u32le][payload, even-padded] where the `LIST/hdrl`
    * list's `avih` chunk carries the geometry — µs-per-frame @0,
    * total frames @16, width @32, height @36 (all u32le). Mapped
    * onto the SAME (width, height, timescale, duration) surface as
    * MP4 with AVI's native clock: timescale = 1_000_000 (µs),
    * duration = µsPerFrame · totalFrames — so ms = d·1000/ts holds
    * for both containers. Non-hdrl chunks (JUNK, INFO, movi …) are
    * skipped by declared length; truncated or degenerate headers
    * (zero dims / zero frame period) parse to None, fail-closed. */
  def parseAvi(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 12) return None
    if (!tag4(b, 0, "RIFF") || !tag4(b, 8, "AVI ")) return None
    val n = b.length
    var i = 12L
    while (i + 8 <= n) {
      val at = i.toInt
      val size = u32le(b, at + 4)
      val start = at + 8
      if (tag4(b, at, "LIST") && size >= 4 && start + 4 <= n &&
        tag4(b, start, "hdrl")) {
        // avih must lead the hdrl list per spec
        val ah = start + 4
        if (ah + 8 > n || !tag4(b, ah, "avih")) return None
        val asz = u32le(b, ah + 4)
        val ap = ah + 8
        if (asz < 56 || ap + 40 > n) return None
        val usf = u32le(b, ap)
        val nf = u32le(b, ap + 16)
        val w = u32le(b, ap + 32)
        val h = u32le(b, ap + 36)
        return if (usf < 1 || w < 1 || h < 1 ||
          w > Int.MaxValue || h > Int.MaxValue ||
          // u32 × u32 can pass Long.MaxValue — degenerate header,
          // fail closed rather than wrap to a negative duration
          (nf != 0L && usf > Long.MaxValue / nf)) None
        else Some((w.toInt, h.toInt, 1000000, usf * nf))
      }
      i = start.toLong + size + (size & 1L) // pad byte on odd sizes
    }
    None
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("width" -> IntegerType, "height" -> IntegerType,
      "timescale" -> IntegerType, "duration" -> LongType)

  /** The same parse as an InternalRow
    * (width:int, height:int, timescale:int, duration:long) or null —
    * shared by `video_meta`'s interpreted and
    * codegen paths. One expression, two containers: dispatches on
    * the in-band magic — RIFF/"AVI " → [[parseAvi]], else the
    * ISO-BMFF box walk — like `audio_meta` does for WAV/FLAC. */
  def parseRow(b: Array[Byte]): InternalRow = {
    val r =
      if (b != null && b.length >= 12 && tag4(b, 0, "RIFF") &&
        tag4(b, 8, "AVI ")) parseAvi(b)
      else parse(b)
    r match {
      case Some((w, h, ts, d)) => InternalRow(w, h, ts, d)
      case None => null
    }
  }
}
