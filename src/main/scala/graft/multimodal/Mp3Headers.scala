package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.NativeFn.row

/** Real MPEG-1 Layer III (MP3) frame-walk metadata — pure byte
  * arithmetic, no codec library; the compressed-audio sibling of
  * [[AudioHeaders]]' PCM RIFF walk.
  *
  * An MP3 stream is an optional ID3v2 tag followed by a sequence of
  * frames. Each frame starts with a 4-byte header:
  *
  * {{{
  * AAAAAAAA AAABBCCD EEEEFFGH IIJJKLMM
  * A: frame sync (11 set bits)      B: version  (11 = MPEG-1)
  * C: layer (01 = Layer III)        D: protection (1 = no CRC)
  * E: bitrate index (table below)   F: sample-rate index
  * G: padding                       H: private
  * I: channel mode (11 = mono)      J..M: ext/copyright/orig/emphasis
  * }}}
  *
  * The frame LENGTH is not stored — it is derived:
  * `144 * bitrate_bps / sample_rate + padding` bytes for MPEG-1
  * Layer III (144 = 1152 samples/frame ÷ 8 bits/byte). The walk
  * therefore validates the whole header chain: one mis-computed
  * length desynchronizes every following frame. Per-frame bitrates
  * may vary (VBR); sample rate and channel mode are per-stream
  * constants and a frame that disagrees with the first ends the walk
  * as trailing garbage would.
  *
  * An ID3v2 tag is "ID3" + version(2) + flags(1) + a 28-bit
  * SYNCSAFE size (4 bytes, high bit of each clear) + `size` tag
  * bytes (+10 footer bytes when flags bit 4 is set). Syncsafe
  * coding exists precisely so tag bytes can never alias a frame
  * sync — the walk decodes it rather than scanning for 0xFF.
  *
  * Deliberately OUT of scope (returns None, never a guess): MPEG-2 /
  * 2.5 versions, Layers I/II, free-format (bitrate index 0) and
  * invalid (15) streams, reserved sample-rate index 3. Full SAMPLE
  * decode (Huffman + IMDCT + psychoacoustic synthesis) stays behind
  * the declared stub in [[Multimodal.StubCodec]] — this walk is the
  * metadata path a 100 TB media lake runs over header-range reads.
  */
object Mp3Headers {

  /** MPEG-1 Layer III bitrate table, kbps, index 1..14 (0 = free
    * format, 15 = invalid — both unsupported here). */
  private[multimodal] val BitrateKbps: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-2 / 2.5 Layer III bitrate table (the LSF halves share
    * one), kbps, index 1..14. */
  private[multimodal] val Bitrate2Kbps: Array[Int] =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** MPEG-1 sample-rate table, Hz, index 0..2 (3 = reserved). */
  private[multimodal] val SampleRateHz: Array[Int] =
    Array(44100, 48000, 32000)
  /** MPEG-2 (version bits 10) sample rates — half of MPEG-1's. */
  private[multimodal] val SampleRate2Hz: Array[Int] =
    Array(22050, 24000, 16000)
  /** MPEG-2.5 (version bits 00) sample rates — a quarter. */
  private[multimodal] val SampleRate25Hz: Array[Int] =
    Array(11025, 12000, 8000)

  /** Samples per MPEG-1 Layer III frame. */
  val SamplesPerFrame = 1152
  /** Samples per MPEG-2 / 2.5 (LSF) Layer III frame. */
  val SamplesPerFrameLsf = 576

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** Byte offset of the first frame: 0, or past the ID3v2 tag.
    * None when an ID3 magic is present but the tag is malformed
    * (non-syncsafe size byte) or truncated. */
  private def id3End(b: Array[Byte]): Option[Int] = {
    if (b.length < 3 || u8(b, 0) != 'I' || u8(b, 1) != 'D' ||
      u8(b, 2) != '3') return Some(0)
    if (b.length < 10) return None
    var size = 0
    var i = 6
    while (i < 10) {
      val v = u8(b, i)
      if ((v & 0x80) != 0) return None // syncsafe bytes keep bit 7 clear
      size = (size << 7) | v
      i += 1
    }
    val footer = if ((u8(b, 5) & 0x10) != 0) 10 else 0
    Some(10 + size + footer)
  }

  /** Frame walk — ALL THREE MPEG versions of Layer III (1 at
    * 32–48 kHz, 2 at 16–24 kHz, 2.5 at 8–12 kHz: the LSF halves
    * carry their own bitrate table, HALF the frame-size coefficient
    * — 72 vs 144, because a frame holds 576 samples, not 1152 — and
    * their own rate tables). Returns
    * (n_frames, sample_rate_hz, channels, sum_kbps, frame_bytes,
    * samples_per_frame): frame count, the per-stream constants, the
    * SUM of per-frame bitrates (sum_kbps / n_frames = mean VBR
    * bitrate), the total bytes covered by complete frames, and the
    * version's frame sample count (1152 / 576) so duration math
    * stays exact for every version. None when the stream does not
    * begin (after any ID3 tag) with a complete Layer III frame.
    * Per-stream constants — VERSION, rate, channel mode — must hold
    * across frames; a frame that disagrees ends the walk as
    * trailing garbage would. Layer I/II, free format, and reserved
    * codes stay out of scope (None, never a guess). */
  def parse(b: Array[Byte]): Option[(Int, Int, Int, Long, Long, Int)] = {
    if (b == null) return None
    val start = id3End(b) match {
      case Some(s) => s
      case None => return None
    }
    val n = b.length
    var p = start
    var frames = 0
    var rate = 0
    var channels = 0
    var mode0 = -1
    var version0 = -1
    var spf = 0
    var sumKbps = 0L
    var frameBytes = 0L
    var ok = true
    while (ok && p + 4 <= n) {
      if (u8(b, p) != 0xff || (u8(b, p + 1) & 0xe0) != 0xe0) ok = false
      else {
        val version = (u8(b, p + 1) >> 3) & 3 // 3=MPEG-1 2=2 0=2.5
        val layer = (u8(b, p + 1) >> 1) & 3 // 1 = Layer III
        val brIdx = (u8(b, p + 2) >> 4) & 15
        val srIdx = (u8(b, p + 2) >> 2) & 3
        val pad = (u8(b, p + 2) >> 1) & 1
        val mode = (u8(b, p + 3) >> 6) & 3
        if (version == 1 || layer != 1 || brIdx == 0 || brIdx == 15 ||
          srIdx == 3) ok = false
        else if (frames > 0 && version != version0) ok = false
        else {
          val sr = version match {
            case 3 => SampleRateHz(srIdx)
            case 2 => SampleRate2Hz(srIdx)
            case _ => SampleRate25Hz(srIdx)
          }
          val kbps =
            if (version == 3) BitrateKbps(brIdx) else Bitrate2Kbps(brIdx)
          if (frames > 0 && (sr != rate || mode != mode0)) ok = false
          else {
            // coeff * bitrate_bps / rate + padding: 144 for MPEG-1
            // (1152 samples / 8), 72 for the LSF halves (576 / 8)
            val len = (if (version == 3) 144000 else 72000) * kbps /
              sr + pad
            if (p + len > n) ok = false // truncated trailing frame
            else {
              if (frames == 0) {
                rate = sr
                mode0 = mode
                version0 = version
                channels = if (mode == 3) 1 else 2
                spf = if (version == 3) SamplesPerFrame
                  else SamplesPerFrameLsf
              }
              frames += 1
              sumKbps += kbps
              frameBytes += len
              p += len
            }
          }
        }
      }
    }
    if (frames == 0) None
    else Some((frames, rate, channels, sumKbps, frameBytes, spf))
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("n_frames" -> IntegerType, "sample_rate" -> IntegerType,
      "channels" -> IntegerType, "sum_kbps" -> LongType,
      "frame_bytes" -> LongType, "spf" -> IntegerType)

  /** [[parse]] as an `InternalRow` for the
    * `mp3_meta` codegen path. Null = not a Layer
    * III stream. */
  def parseRow(b: Array[Byte]): InternalRow = parse(b) match {
    case Some((nf, rate, ch, kbps, fb, spf)) =>
      InternalRow(nf, rate, ch, kbps, fb, spf)
    case None => null
  }

  private def u32be(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)

  /** Xing/Info VBR header inside the FIRST frame — how players know
    * a variable-bitrate file's true duration without walking every
    * frame (the first frame's header alone misstates the mean
    * bitrate): after the 4-byte frame header and the MPEG-1 side
    * info (17 bytes mono, 32 otherwise) sits a "Xing" (VBR) or
    * "Info" (CBR-written-by-LAME) magic, a big-endian flags word,
    * then optional big-endian total-frames and total-bytes counts
    * in flag order. Returns
    * (tag, sample_rate, declared_frames, declared_bytes, est_ms)
    * with est_ms = frames·1152·1000 / rate (integer floor) and −1
    * for a count whose flag is absent; None when the stream has no
    * valid first frame, the block would overrun the frame or
    * buffer, or the magic is absent (a plain CBR file — callers
    * fall back to [[parse]]'s walk). */
  def vbrInfo(b: Array[Byte]): Option[(String, Int, Long, Long, Long)] = {
    if (b == null) return None
    val start = id3End(b) match {
      case Some(s) => s
      case None => return None
    }
    if (start + 4 > b.length) return None
    if (u8(b, start) != 0xff || (u8(b, start + 1) & 0xe0) != 0xe0)
      return None
    val version = (u8(b, start + 1) >> 3) & 3
    val layer = (u8(b, start + 1) >> 1) & 3
    val brIdx = (u8(b, start + 2) >> 4) & 15
    val srIdx = (u8(b, start + 2) >> 2) & 3
    val pad = (u8(b, start + 2) >> 1) & 1
    val mode = (u8(b, start + 3) >> 6) & 3
    if (version != 3 || layer != 1 || brIdx == 0 || brIdx == 15 ||
      srIdx == 3) return None
    val rate = SampleRateHz(srIdx)
    val len = 144000 * BitrateKbps(brIdx) / rate + pad
    val side = if (mode == 3) 17 else 32
    var p = start + 4 + side
    if (p + 8 > b.length || p + 8 > start + len) return None
    val tag = new String(b.slice(p, p + 4), "US-ASCII")
    if (tag != "Xing" && tag != "Info") return None
    val flags = u32be(b, p + 4)
    p += 8
    var frames = -1L
    var bytes = -1L
    if ((flags & 1L) != 0) {
      if (p + 4 > b.length || p + 4 > start + len) return None
      frames = u32be(b, p); p += 4
    }
    if ((flags & 2L) != 0) {
      if (p + 4 > b.length || p + 4 > start + len) return None
      bytes = u32be(b, p); p += 4
    }
    val estMs = if (frames >= 0)
      frames * SamplesPerFrame * 1000L / rate else -1L
    Some((tag, rate, frames, bytes, estMs))
  }

  /** The `vbrRow` result row. */
  val vbrRowType: StructType =
    row("tag" -> StringType, "sample_rate" -> IntegerType,
      "n_frames" -> LongType, "n_bytes" -> LongType, "est_ms" -> LongType)

  /** [[vbrInfo]] as an `InternalRow` for the
    * `mp3_vbr` codegen path. Null = no VBR
    * header. */
  def vbrRow(b: Array[Byte]): InternalRow = vbrInfo(b) match {
    case Some((tag, rate, nf, nb, ms)) =>
      InternalRow(org.apache.spark.unsafe.types.UTF8String
        .fromString(tag), rate, nf, nb, ms)
    case None => null
  }

  /** ID3v2 TEXT-frame extraction — the other half of the tag the
    * frame walk only SKIPS: (title, artist, album, tag version)
    * from TIT2 / TPE1 / TALB. Handles BOTH mainstream tag versions,
    * whose frame-size fields genuinely differ — v2.3 sizes are plain
    * u32be, v2.4 sizes are SYNCSAFE (7 bits per byte; a v2.4 frame
    * over 127 bytes read as u32be lands the walk mid-frame) — plus
    * the text-frame encoding byte (0 = ISO-8859-1, 3 = UTF-8) and
    * trailing-NUL stripping. The walk stops at padding (a zero byte
    * where a frame id belongs) or the declared tag end; overruns
    * fail closed. Missing frames yield null fields — absence is not
    * an error (most files carry a subset). */
  def id3TextFrames(b: Array[Byte])
      : Option[(String, String, String, Int)] = {
    if (b == null || b.length < 10) return None
    if (u8(b, 0) != 'I' || u8(b, 1) != 'D' || u8(b, 2) != '3')
      return None
    val ver = u8(b, 3)
    if (ver != 2 && ver != 3 && ver != 4) return None
    // extended header / unsynchronisation (v2.3+) and v2.2's
    // compression bit are out of scope — fail closed rather than
    // walk byte-stuffed sizes fail-open
    if ((u8(b, 5) & 0x40) != 0 || (u8(b, 5) & 0x80) != 0) return None
    var size = 0
    var i = 6
    while (i < 10) {
      val v = u8(b, i)
      if ((v & 0x80) != 0) return None
      size = (size << 7) | v
      i += 1
    }
    val end = 10 + size
    if (end > b.length) return None
    // v2.2 frames are id(3) + u24be size, no flags — the 6-byte
    // header real legacy (iTunes-era) files still carry
    val hdrLen = if (ver == 2) 6 else 10
    var title: String = null
    var artist: String = null
    var album: String = null
    var p = 10
    var done = false
    while (!done && p + hdrLen <= end) {
      if (u8(b, p) == 0) done = true // padding begins
      else {
        val id = new String(b, p, if (ver == 2) 3 else 4, "US-ASCII")
        val fsz: Long =
          if (ver == 4) {
            var s = 0L; var k = 4
            while (k < 8) {
              val v = u8(b, p + k)
              if ((v & 0x80) != 0) return None
              s = (s << 7) | v; k += 1
            }
            s
          } else if (ver == 2)
            (u8(b, p + 3).toLong << 16) | (u8(b, p + 4) << 8) |
              u8(b, p + 5)
          else
            // u32be as a LONG: a 0x7FFFFFF0-scale declared size must
            // hit the bounds guard, not wrap an Int past it
            ((u8(b, p + 4).toLong << 24) | (u8(b, p + 5) << 16) |
              (u8(b, p + 6) << 8) | u8(b, p + 7))
        val body = p + hdrLen
        if (fsz < 0 || body + fsz > end) return None
        if (id.startsWith("T") && fsz >= 1) {
          val enc = u8(b, body)
          val cs = enc match {
            case 0 => "ISO-8859-1"
            case 3 if ver != 2 => "UTF-8" // v2.2 predates UTF-8 here
            case _ => null // UTF-16 variants: not a text we extract
          }
          if (cs != null) {
            var len = fsz.toInt - 1
            while (len > 0 && b(body + len) == 0) len -= 1 // trailing NULs
            val txt = new String(b, body + 1, len, cs)
            id match {
              case "TIT2" | "TT2" => title = txt
              case "TPE1" | "TP1" => artist = txt
              case "TALB" | "TAL" => album = txt
              case _ => ()
            }
          }
        }
        p = body + fsz.toInt
      }
    }
    Some((title, artist, album, ver))
  }

  /** Decoded metrics of [[sideInfo]] — one value class so the
    * field-order contract with `mp3_side_info` is
    * spelled once. */
  final case class SideInfoMetrics(
      mainDataBegin: Int, channels: Int, scfsiMask: Int,
      p23Sum: Long, bigvSum: Long, gainMax: Int,
      bt1: Int, mixed1: Int, tselSum: Long, regSum: Long,
      sbgSum: Long, flagsSum: Long,
      part2Bits: Long, sfSum: Long, sfN: Long)

  /** MSB-first bounded bit reader — every read past `limitBit`
    * signals malformed input via the `ok` flag (fail closed, never
    * a guess). */
  private final class BitR(b: Array[Byte], startBit: Int, limitBit: Int) {
    private var pos = startBit
    var ok = true
    def bitPos: Int = pos
    def u(n: Int): Int = {
      if (pos + n > limitBit) { ok = false; return 0 }
      var v = 0
      var i = 0
      while (i < n) {
        v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1; i += 1
      }
      v
    }
    def skip(n: Int): Unit =
      if (n < 0 || pos + n > limitBit) ok = false else pos += n
  }

  /** Raw per-frame side-information fields — the shared substrate
    * of [[sideInfo]]'s metrics and [[count1Info]]'s region decode.
    * Arrays are (granule)(channel); the reader `r` is positioned at
    * the main-data start (side-info end). */
  private final class SideFields(
      val start: Int, val len: Int, val nch: Int, val mdb: Int,
      val scfsi: Array[Array[Int]], val p23: Array[Array[Int]],
      val bigv: Array[Array[Int]], val gain: Array[Array[Int]],
      val sfc: Array[Array[Int]], val wsf: Array[Array[Int]],
      val bt: Array[Array[Int]], val mixed: Array[Array[Int]],
      val c1t: Array[Array[Int]], val tselSum: Long,
      val regSum: Long, val sbgSum: Long, val flagsSum: Long,
      val r: BitR,
      // retained per-field values the big-values walk needs (the
      // sums above remain the sideInfo metrics surface)
      val srIdx: Int, val tsel: Array[Array[Array[Int]]],
      val reg0: Array[Array[Int]], val reg1: Array[Array[Int]])

  /** Header validation + the fixed §2.4.1.7 side-info grammar.
    * Fail-closed (None): no valid complete MPEG-1 Layer III first
    * frame; window switching with block type 0 (forbidden); a set
    * scfsi bit alongside a short-block granule (nothing positional
    * to share). */
  private def readSideFields(b: Array[Byte]): Option[SideFields] = {
    if (b == null) return None
    val start = id3End(b) match {
      case Some(s) => s
      case None => return None
    }
    if (start + 4 > b.length) return None
    if (u8(b, start) != 0xff || (u8(b, start + 1) & 0xe0) != 0xe0)
      return None
    val version = (u8(b, start + 1) >> 3) & 3
    val layer = (u8(b, start + 1) >> 1) & 3
    val brIdx = (u8(b, start + 2) >> 4) & 15
    val srIdx = (u8(b, start + 2) >> 2) & 3
    val pad = (u8(b, start + 2) >> 1) & 1
    val mode = (u8(b, start + 3) >> 6) & 3
    if (version != 3 || layer != 1 || brIdx == 0 || brIdx == 15 ||
      srIdx == 3) return None
    val nch = if (mode == 3) 1 else 2
    val len = 144000 * BitrateKbps(brIdx) / SampleRateHz(srIdx) + pad
    val side = if (nch == 1) 17 else 32
    if (start + len > b.length || 4 + side > len) return None

    val r = new BitR(b, (start + 4) * 8, (start + len) * 8)
    val mdb = r.u(9)
    r.u(if (nch == 1) 5 else 3) // private bits
    val scfsi = Array.ofDim[Int](nch, 4)
    var c = 0
    while (c < nch) {
      var k = 0
      while (k < 4) { scfsi(c)(k) = r.u(1); k += 1 }
      c += 1
    }
    val p23 = Array.ofDim[Int](2, nch)
    val bigv = Array.ofDim[Int](2, nch)
    val gain = Array.ofDim[Int](2, nch)
    val sfc = Array.ofDim[Int](2, nch)
    val wsf = Array.ofDim[Int](2, nch)
    val bt = Array.ofDim[Int](2, nch)
    val mixed = Array.ofDim[Int](2, nch)
    val c1t = Array.ofDim[Int](2, nch)
    val tsel = Array.ofDim[Int](2, nch, 3)
    val reg0 = Array.ofDim[Int](2, nch)
    val reg1 = Array.ofDim[Int](2, nch)
    var tselSum = 0L; var regSum = 0L; var sbgSum = 0L
    var flagsSum = 0L
    var g = 0
    while (g < 2) {
      c = 0
      while (c < nch) {
        p23(g)(c) = r.u(12)
        bigv(g)(c) = r.u(9)
        gain(g)(c) = r.u(8)
        sfc(g)(c) = r.u(4)
        wsf(g)(c) = r.u(1)
        if (wsf(g)(c) == 1) {
          bt(g)(c) = r.u(2)
          if (bt(g)(c) == 0) return None // §2.4.1.7: forbidden
          mixed(g)(c) = r.u(1)
          tsel(g)(c)(0) = r.u(5); tsel(g)(c)(1) = r.u(5)
          tselSum += tsel(g)(c)(0); tselSum += tsel(g)(c)(1)
          sbgSum += r.u(3); sbgSum += r.u(3); sbgSum += r.u(3)
        } else {
          tsel(g)(c)(0) = r.u(5); tsel(g)(c)(1) = r.u(5)
          tsel(g)(c)(2) = r.u(5)
          tselSum += tsel(g)(c)(0) + tsel(g)(c)(1) + tsel(g)(c)(2)
          reg0(g)(c) = r.u(4)
          reg1(g)(c) = r.u(3)
          regSum += reg0(g)(c) * 8
          regSum += reg1(g)(c)
        }
        flagsSum += r.u(1) * 4 + r.u(1) * 2
        c1t(g)(c) = r.u(1)
        flagsSum += c1t(g)(c)
        c += 1
      }
      g += 1
    }
    if (!r.ok) return None
    // the side-info grammar is a fixed 136/256 bits — arriving
    // anywhere else means the reader itself is broken
    if (r.bitPos != (start + 4 + side) * 8) return None
    // scfsi with a short-block granule: nothing to share (§2.4.2.7)
    c = 0
    while (c < nch) {
      val anyScfsi = scfsi(c)(0) + scfsi(c)(1) + scfsi(c)(2) +
        scfsi(c)(3) > 0
      if (anyScfsi && ((wsf(1)(c) == 1 && bt(1)(c) == 2) ||
        (wsf(0)(c) == 1 && bt(0)(c) == 2))) return None
      c += 1
    }
    Some(new SideFields(start, len, nch, mdb, scfsi, p23, bigv,
      gain, sfc, wsf, bt, mixed, c1t, tselSum, regSum, sbgSum,
      flagsSum, r, srIdx, tsel, reg0, reg1))
  }

  /** Reads (granule, channel)'s §2.4.2.7 scalefactors at the shared
    * reader's position: slen1/slen2 from the scalefac_compress
    * table, long 21-band / short 36 / mixed 35 layouts, granule-1
    * long groups with a set scfsi bit COPIED from granule 0 (no
    * bits consumed). Returns (transmitted bits, value sum, slot
    * count); fills `g0` at granule 0 for the copy path. */
  private def readScalefactors(f: SideFields, g: Int, c: Int,
      g0: Array[Array[Int]]): (Long, Long, Int) = {
    val s1 = Mp3SideFixture.Slen1(f.sfc(g)(c))
    val s2 = Mp3SideFixture.Slen2(f.sfc(g)(c))
    var transmitted = 0L
    var sfSum = 0L
    var sfN = 0
    if (f.wsf(g)(c) == 1 && f.bt(g)(c) == 2) {
      val n1 = if (f.mixed(g)(c) == 1) 17 else 18
      var j = 0
      while (j < n1) { sfSum += f.r.u(s1); j += 1 }
      j = 0
      while (j < 18) { sfSum += f.r.u(s2); j += 1 }
      transmitted = n1.toLong * s1 + 18L * s2
      sfN = n1 + 18
    } else {
      var band = 0
      var k = 0
      while (k < 4) {
        val slen = if (k < 2) s1 else s2
        val size = Mp3SideFixture.ScfsiGroupSize(k)
        val copied = g == 1 && f.scfsi(c)(k) == 1
        var i = 0
        while (i < size) {
          val v = if (copied) g0(c)(band) else f.r.u(slen)
          if (g == 0) g0(c)(band) = v
          sfSum += v
          if (!copied) transmitted += slen
          band += 1; i += 1
        }
        k += 1
      }
      sfN = 21
    }
    (transmitted, sfSum, sfN)
  }

  /** MPEG-1 Layer III SIDE-INFORMATION decode (ISO 11172-3
    * §2.4.1.7) plus the main-data SCALEFACTOR walk (§2.4.2.7) of
    * the stream's first frame — the structural layer between the
    * frame-header walk ([[parse]]) and full sample decode (which
    * stays the declared Huffman/IMDCT stub).
    *
    * Reads `main_data_begin`, per-channel `scfsi`, and every
    * granule × channel field (part2_3_length, big_values,
    * global_gain, scalefac_compress, the window-switching branch
    * with block type / mixed flag / table selects / subblock gains,
    * or table selects + region counts, then the preflag /
    * scalefac_scale / count1table_select tail). When
    * `main_data_begin` is 0 — no bit-reservoir backreference, the
    * main data begins right after the side info — it further
    * decodes every granule × channel's scalefactors: slen1/slen2
    * from the §2.4.2.7 scalefac_compress table, the long 21-band /
    * short 36 / mixed 35 layouts, granule-1 long groups with a set
    * scfsi bit COPIED from granule 0 (transmitted bits skipped),
    * and each channel's Huffman region skipped via
    * `part2_3_length − part2 bits` so the next channel's
    * scalefactors are found only if part2 was summed exactly.
    * When `main_data_begin` ≠ 0 the scalefactor fields report −1 —
    * the reservoir lives in PRIOR frames this reader does not walk.
    *
    * Fail-closed (None): no valid complete MPEG-1 Layer III first
    * frame; window switching with block type 0 (§2.4.1.7 forbids
    * it); a set scfsi bit when granule 1 runs short blocks, or when
    * granule 0 was short (nothing positional to copy);
    * part2_3_length smaller than the transmitted scalefactor bits;
    * any read past the frame or buffer end. */
  def sideInfo(b: Array[Byte]): Option[SideInfoMetrics] = {
    val f = readSideFields(b) match {
      case Some(v) => v
      case None => return None
    }
    val nch = f.nch
    var p23Sum = 0L; var bigvSum = 0L; var gainMax = 0
    var scfsiMask = 0
    var g = 0
    while (g < 2) {
      var c = 0
      while (c < nch) {
        p23Sum += f.p23(g)(c)
        bigvSum += f.bigv(g)(c)
        if (f.gain(g)(c) > gainMax) gainMax = f.gain(g)(c)
        c += 1
      }
      g += 1
    }
    var c = 0
    while (c < nch) {
      val v = (f.scfsi(c)(0) << 3) | (f.scfsi(c)(1) << 2) |
        (f.scfsi(c)(2) << 1) | f.scfsi(c)(3)
      scfsiMask |= v << (4 * c)
      c += 1
    }

    // scalefactor walk — only when the main data starts in THIS frame
    var part2Bits = -1L; var sfSum = -1L; var sfN = -1L
    if (f.mdb == 0) {
      part2Bits = 0L; sfSum = 0L; sfN = 0L
      val g0 = Array.ofDim[Int](nch, 21) // granule-0 long values
      g = 0
      while (g < 2) {
        c = 0
        while (c < nch) {
          val (transmitted, sum, n) = readScalefactors(f, g, c, g0)
          part2Bits += transmitted
          sfSum += sum
          sfN += n
          if (f.p23(g)(c) < transmitted) return None
          f.r.skip(f.p23(g)(c) - transmitted.toInt)
          c += 1
        }
        g += 1
      }
      if (!f.r.ok) return None
    }
    Some(SideInfoMetrics(f.mdb, nch, scfsiMask, p23Sum, bigvSum,
      gainMax, if (f.wsf(1)(0) == 1) f.bt(1)(0) else 0,
      if (f.wsf(1)(0) == 1) f.mixed(1)(0) else 0, f.tselSum,
      f.regSum, f.sbgSum, f.flagsSum, part2Bits, sfSum, sfN))
  }

  /** COUNT1-REGION entropy decode (ISO 11172-3 §2.4.1.7 /
    * §2.4.2.7) of the stream's first frame — the first REAL Huffman
    * slice of the Layer III sample path: spectral quadruples
    * (v, w, x, y ∈ {0, ±1}) coded with count1 table 1, whose
    * codewords are all 4 bits and the bitwise COMPLEMENT of the
    * quadruple, each nonzero value followed by its sign bit
    * (1 = negative). The walk reuses the side-info + scalefactor
    * machinery: per granule × channel it decodes the scalefactors,
    * then — the count1 region starting where the big-values region
    * would end — consumes quadruples until part2_3_length is
    * exhausted exactly. Returns
    * (n_quads, n_nonzero, n_neg, sum_vals) totals over all
    * granule × channel regions.
    *
    * Both count1 tables decode: select 1 is the fixed 4-bit
    * complement table; select 0 is TABLE A, the variable-length
    * 1–6-bit tree, transcribed under the [[BvTable]] Kraft/prefix
    * self-check ([[Count1TableA]]) and pinned by its own fixture
    * (`mm_mp3_count1a`).
    *
    * Fail-closed (None), never a guess: everything [[sideInfo]]
    * rejects; a nonzero `main_data_begin` (the region lives in
    * prior frames); a nonzero `big_values` (decode that region
    * through [[bigvaluesInfo]] instead); a region that ends
    * mid-quadruple; more than 144 quadruples in one region (576
    * spectral lines per granule). */
  def count1Info(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    val f = readSideFields(b) match {
      case Some(v) => v
      case None => return None
    }
    if (f.mdb != 0) return None
    val g0 = Array.ofDim[Int](f.nch, 21)
    var nQuads = 0L; var nNonzero = 0L; var nNeg = 0L
    var sumVals = 0L
    var g = 0
    while (g < 2) {
      var c = 0
      while (c < f.nch) {
        if (f.bigv(g)(c) != 0) return None
        val tableA = f.c1t(g)(c) == 0
        val regionEnd = f.r.bitPos + f.p23(g)(c)
        val (transmitted, _, _) = readScalefactors(f, g, c, g0)
        if (f.p23(g)(c) < transmitted) return None
        var quads = 0
        while (f.r.ok && f.r.bitPos < regionEnd) {
          val pattern =
            if (tableA) { // table A: the transcribed 1–6-bit VLC
              val hit = vlcWalk(f.r, Count1TableA)
              if (hit < 0 || f.r.bitPos > regionEnd) return None
              Count1TableA.xs(hit)
            } else { // table B (select 1): fixed 4-bit complements
              if (regionEnd - f.r.bitPos < 4) return None // mid-quad
              (~f.r.u(4)) & 15
            }
          var k = 0
          while (k < 4) {
            if (((pattern >> (3 - k)) & 1) == 1) {
              if (f.r.bitPos >= regionEnd) return None // lost sign bit
              val neg = f.r.u(1)
              nNonzero += 1
              if (neg == 1) { nNeg += 1; sumVals -= 1 }
              else sumVals += 1
            }
            k += 1
          }
          quads += 1
          if (quads > 144) return None // 576 lines per granule
        }
        if (!f.r.ok) return None
        nQuads += quads
        c += 1
      }
      g += 1
    }
    Some((nQuads, nNonzero, nNeg, sumVals))
  }

  // ----------------------------------------------------------------
  // BIG-VALUES region (ISO 11172-3 §2.4.2.7 / Table B.7) — the
  // variable-length Huffman layer below count1
  // ----------------------------------------------------------------

  /** Table B.8 long-block scalefactor-band boundaries (spectral-line
    * indices) per MPEG-1 sample-rate index (44.1 / 48 / 32 kHz) —
    * the region0/region1 split points of a non-window-switching
    * granule. Spec constants with no codec in this container to pin
    * them against; the fixture oracle (`mm_mp3_bigvalues`) exercises
    * only the COMMON PREFIX (bands 0–8, identical across the three
    * rates), so entries past index 8 are cited-but-unexercised. */
  private[multimodal] val BandsLong: Array[Array[Int]] = Array(
    Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
      134, 162, 196, 238, 288, 342, 418, 576), // 44.1 kHz
    Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
      128, 156, 190, 230, 276, 330, 384, 576), // 48 kHz
    Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
      156, 194, 240, 296, 364, 448, 550, 576)) // 32 kHz

  /** One transcribed VLC table as parallel (code, len, x, y) arrays
    * — Table B.7 (x, y) pairs here, and the H.264 CAVLC tables in
    * [[H264Cavlc]] (`dim` 0 skips the square-size check for those).
    * Construction VALIDATES the transcription — prefix-freeness and
    * Kraft completeness (Σ 2^−len = 1) — so a mis-copied spec
    * constant fails loudly at class load, not as a silent
    * mis-decode. */
  private[multimodal] class BvTable(val dim: Int,
      entries: Seq[(Int, Int, Int, Int)],
      missingLeaves: Int = 0) {
    val code: Array[Int] = entries.map(_._1).toArray
    val len: Array[Int] = entries.map(_._2).toArray
    val xs: Array[Int] = entries.map(_._3).toArray
    val ys: Array[Int] = entries.map(_._4).toArray
    require(dim == 0 || entries.size == dim * dim, "B.7 table size")
    // Kraft completeness, or — for tables whose SPEC leaves
    // codewords unused (H.264's coeff_token / total_zeros columns)
    // — completeness up to the DECLARED number of unused leaves at
    // the deepest level. The slack is a stated structural fact of
    // the source table, never derived from the transcription, so a
    // mis-copied length still fails loudly here.
    require(entries.map(e => math.pow(2, -e._2)).sum ==
      1.0 - missingLeaves * math.pow(2, -entries.map(_._2).max),
      "VLC table Kraft sum != declared completeness — " +
        "transcription slip")
    for (Seq((c1, l1, _, _), (c2, l2, _, _)) <-
        entries.combinations(2)) {
      val (sc, sl, lc, ll) =
        if (l1 <= l2) (c1, l1, c2, l2) else (c2, l2, c1, l1)
      require((lc >> (ll - sl)) != sc || sl == ll,
        "B.7 table not prefix-free — transcription slip")
    }
    val maxLen: Int = len.max
  }

  /** COUNT1 table A (Table B.7 "count1 table 0"): 16 quadruple
    * patterns (v,w,x,y packed as a 4-bit value in `x`), codeword
    * lengths 1–6 — the variable-length sibling of the fixed 4-bit
    * complement table 1. Same transcription discipline as
    * [[BvTables]]: Kraft/prefix-validated at load, fixture-pinned
    * positionally. */
  private[multimodal] val Count1TableA = new BvTable(0, Seq(
    (1, 1, 0, 0),
    (5, 4, 1, 0), (4, 4, 2, 0), (5, 5, 3, 0),
    (6, 4, 4, 0), (5, 6, 5, 0), (4, 5, 6, 0), (4, 6, 7, 0),
    (7, 4, 8, 0), (3, 5, 9, 0), (6, 5, 10, 0), (0, 6, 11, 0),
    (7, 5, 12, 0), (2, 6, 13, 0), (3, 6, 14, 0), (1, 6, 15, 0)))

  /** Tables B.7 1–3 and 5 (the verified subset: small enough to
    * transcribe with the Kraft/prefix self-check and carry no
    * linbits/ESC machinery — each table's length multiset closes
    * Kraft at exactly 1.0, a strong transcription witness). Table 0
    * codes the all-zero region in ZERO bits (handled inline);
    * select 4 is RESERVED by the spec; selects 6–31 stay
    * fail-closed — the larger tables are the same walk with more
    * constants, adopted only when something in-container can pin
    * them. */
  private[multimodal] val BvTables: Map[Int, BvTable] = Map(
    1 -> new BvTable(2, Seq(
      (1, 1, 0, 0), (1, 3, 0, 1), (1, 2, 1, 0), (0, 3, 1, 1))),
    2 -> new BvTable(3, Seq(
      (1, 1, 0, 0), (2, 3, 0, 1), (1, 6, 0, 2),
      (3, 3, 1, 0), (1, 3, 1, 1), (1, 5, 1, 2),
      (3, 5, 2, 0), (2, 5, 2, 1), (0, 6, 2, 2))),
    3 -> new BvTable(3, Seq(
      (3, 2, 0, 0), (2, 2, 0, 1), (1, 6, 0, 2),
      (1, 3, 1, 0), (1, 2, 1, 1), (1, 5, 1, 2),
      (3, 5, 2, 0), (2, 5, 2, 1), (0, 6, 2, 2))),
    5 -> new BvTable(4, Seq(
      (1, 1, 0, 0), (2, 3, 0, 1), (6, 6, 0, 2), (5, 7, 0, 3),
      (3, 3, 1, 0), (1, 3, 1, 1), (4, 6, 1, 2), (4, 7, 1, 3),
      (7, 6, 2, 0), (5, 6, 2, 1), (7, 7, 2, 2), (1, 8, 2, 3),
      (6, 7, 3, 0), (1, 6, 3, 1), (1, 7, 3, 2), (0, 8, 3, 3))))

  /** Walk one transcribed VLC MSB-first: accumulate bits until the
    * (code, len) pair matches an entry; −1 when nothing matches
    * within the table's longest code (or the reader ran dry). */
  private def vlcWalk(r: BitR, t: BvTable): Int = {
    var acc = 0; var n = 0
    while (n < t.maxLen && r.ok) {
      acc = (acc << 1) | r.u(1); n += 1
      var e = 0
      while (e < t.code.length) {
        if (t.len(e) == n && t.code(e) == acc) return e
        e += 1
      }
    }
    -1
  }

  /** BIG-VALUES entropy decode of the stream's first frame — the
    * variable-length Huffman slice below [[count1Info]]'s fixed-width
    * one: per long-block granule × channel, the big_values region's
    * (x, y) pairs decoded through Table B.7 trees with their sign
    * bits, regions split by region0/region1_count over the B.8 band
    * boundaries, each region coded with its own table_select.
    * Returns (n_regions, n_pairs, n_nonzero, n_neg, sum_vals) totals
    * over the DECODED (long-block) granule × channels; a
    * window-switching granule's part3 is SKIPPED structurally (its
    * short-block region layout is outside this walk) and not
    * counted.
    *
    * Fail-closed (None): everything [[sideInfo]] rejects; nonzero
    * `main_data_begin`; a table_select outside the verified set
    * {0,1,2,3,5}; big_values > 288 (576 lines per granule); a region
    * whose pairs do not exhaust part2_3_length EXACTLY (the verified
    * class is big-values-only frames — a count1 tail would need the
    * table-select machinery above this walk); any bit overrun. */
  def bigvaluesInfo(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long)] = {
    val f = readSideFields(b) match {
      case Some(v) => v
      case None => return None
    }
    if (f.mdb != 0) return None
    val bands = BandsLong(f.srIdx)
    val g0 = Array.ofDim[Int](f.nch, 21)
    var nRegions = 0L; var nPairs = 0L; var nNonzero = 0L
    var nNeg = 0L; var sumVals = 0L
    var g = 0
    while (g < 2) {
      var c = 0
      while (c < f.nch) {
        val regionEnd = f.r.bitPos + f.p23(g)(c)
        val (transmitted, _, _) = readScalefactors(f, g, c, g0)
        if (f.p23(g)(c) < transmitted) return None
        if (f.wsf(g)(c) == 1) {
          // short/mixed-block layout: structurally skipped, the
          // sideInfo discipline
          f.r.skip(f.p23(g)(c) - transmitted.toInt)
        } else {
          val bigv = f.bigv(g)(c)
          if (bigv > 288) return None
          val r0 = f.reg0(g)(c); val r1 = f.reg1(g)(c)
          if (r0 + r1 + 2 >= bands.length) return None
          // boundaries in PAIRS (band edges are even line indices)
          val b0 = math.min(bands(r0 + 1) / 2, bigv)
          val b1 = math.min(bands(r0 + r1 + 2) / 2, bigv)
          var i = 0
          while (f.r.ok && i < bigv) {
            val ts =
              if (i < b0) f.tsel(g)(c)(0)
              else if (i < b1) f.tsel(g)(c)(1)
              else f.tsel(g)(c)(2)
            if (ts == 0) {
              // table 0: the all-zero pair, zero bits
            } else BvTables.get(ts) match {
              case None => return None // outside the verified set
              case Some(t) =>
                val hit = vlcWalk(f.r, t)
                if (hit < 0 || !f.r.ok) return None
                var k = 0
                while (k < 2) {
                  val v = if (k == 0) t.xs(hit) else t.ys(hit)
                  if (v != 0) {
                    if (f.r.bitPos >= regionEnd) return None
                    val neg = f.r.u(1)
                    nNonzero += 1
                    if (neg == 1) { nNeg += 1; sumVals -= v }
                    else sumVals += v
                  }
                  k += 1
                }
            }
            if (f.r.bitPos > regionEnd) return None
            i += 1
          }
          if (!f.r.ok || f.r.bitPos != regionEnd) return None
          nRegions += 1
          nPairs += bigv
        }
        c += 1
      }
      g += 1
    }
    if (!f.r.ok) return None
    Some((nRegions, nPairs, nNonzero, nNeg, sumVals))
  }

  /** FULL part3 entropy decode of the stream's first frame — the
    * real Layer-III region SEQUENCE the isolated walks
    * ([[bigvaluesInfo]], [[count1Info]]) pin separately: per
    * long-block granule × channel, the big_values (x, y) pairs
    * through the verified Table-B.7 subset, then count1 quadruples
    * through the selected count1 table (A or the 4-bit complement
    * table) until part2_3_length is exhausted EXACTLY — the
    * boundary between the two regions is implicit in the codeword
    * widths, so any slip in either layer desynchronizes the other.
    * Returns (n_regions, n_pairs, n_quads, n_nonzero, n_neg,
    * sum_vals) totals over the decoded granule × channels
    * (window-switching granules skipped structurally, as in
    * [[bigvaluesInfo]]).
    *
    * Fail-closed (None): everything the isolated walks reject, plus
    * the §2.4.2.7 spectral cap (big_values·2 + quadruples·4 ≤ 576
    * lines per granule). */
  def part3Info(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long, Long)] = {
    val f = readSideFields(b) match {
      case Some(v) => v
      case None => return None
    }
    if (f.mdb != 0) return None
    val bands = BandsLong(f.srIdx)
    val g0 = Array.ofDim[Int](f.nch, 21)
    var nRegions = 0L; var nPairs = 0L; var nQuads = 0L
    var nNonzero = 0L; var nNeg = 0L; var sumVals = 0L
    var g = 0
    while (g < 2) {
      var c = 0
      while (c < f.nch) {
        val regionEnd = f.r.bitPos + f.p23(g)(c)
        val (transmitted, _, _) = readScalefactors(f, g, c, g0)
        if (f.p23(g)(c) < transmitted) return None
        if (f.wsf(g)(c) == 1) {
          f.r.skip(f.p23(g)(c) - transmitted.toInt)
        } else {
          // ---- big-values region ----
          val bigv = f.bigv(g)(c)
          if (bigv > 288) return None
          val r0 = f.reg0(g)(c); val r1 = f.reg1(g)(c)
          if (r0 + r1 + 2 >= bands.length) return None
          val b0 = math.min(bands(r0 + 1) / 2, bigv)
          val b1 = math.min(bands(r0 + r1 + 2) / 2, bigv)
          var i = 0
          while (f.r.ok && i < bigv) {
            val ts =
              if (i < b0) f.tsel(g)(c)(0)
              else if (i < b1) f.tsel(g)(c)(1)
              else f.tsel(g)(c)(2)
            if (ts != 0) BvTables.get(ts) match {
              case None => return None
              case Some(t) =>
                val hit = vlcWalk(f.r, t)
                if (hit < 0 || !f.r.ok) return None
                var k = 0
                while (k < 2) {
                  val v = if (k == 0) t.xs(hit) else t.ys(hit)
                  if (v != 0) {
                    if (f.r.bitPos >= regionEnd) return None
                    val neg = f.r.u(1)
                    nNonzero += 1
                    if (neg == 1) { nNeg += 1; sumVals -= v }
                    else sumVals += v
                  }
                  k += 1
                }
            }
            if (f.r.bitPos > regionEnd) return None
            i += 1
          }
          if (!f.r.ok) return None
          nPairs += bigv
          // ---- count1 region: the rest of part2_3 ----
          val tableA = f.c1t(g)(c) == 0
          var quads = 0
          while (f.r.ok && f.r.bitPos < regionEnd) {
            val pattern =
              if (tableA) {
                val hit = vlcWalk(f.r, Count1TableA)
                if (hit < 0 || f.r.bitPos > regionEnd) return None
                Count1TableA.xs(hit)
              } else {
                if (regionEnd - f.r.bitPos < 4) return None
                (~f.r.u(4)) & 15
              }
            var k = 0
            while (k < 4) {
              if (((pattern >> (3 - k)) & 1) == 1) {
                if (f.r.bitPos >= regionEnd) return None
                val neg = f.r.u(1)
                nNonzero += 1
                if (neg == 1) { nNeg += 1; sumVals -= 1 }
                else sumVals += 1
              }
              k += 1
            }
            quads += 1
            if (bigv * 2 + quads * 4 > 576) return None // §2.4.2.7
          }
          if (!f.r.ok || f.r.bitPos != regionEnd) return None
          nQuads += quads
          nRegions += 1
        }
        c += 1
      }
      g += 1
    }
    if (!f.r.ok) return None
    Some((nRegions, nPairs, nQuads, nNonzero, nNeg, sumVals))
  }

  /** The `part3Row` result row. */
  val part3RowType: StructType =
    row("n_regions" -> LongType, "n_pairs" -> LongType,
      "n_quads" -> LongType, "n_nonzero" -> LongType, "n_neg" -> LongType,
      "sum_vals" -> LongType)

  /** [[part3Info]] as an `InternalRow` for the
    * `mp3_part3` codegen path. */
  def part3Row(b: Array[Byte]): InternalRow = part3Info(b) match {
    case Some((nr, np, nq, nz, nn, sv)) =>
      InternalRow(nr, np, nq, nz, nn, sv)
    case None => null
  }

  /** The `bigvaluesRow` result row. */
  val bigvaluesRowType: StructType =
    row("n_regions" -> LongType, "n_pairs" -> LongType,
      "n_nonzero" -> LongType, "n_neg" -> LongType, "sum_vals" -> LongType)

  /** [[bigvaluesInfo]] as an `InternalRow` for the
    * `mp3_bigvalues` codegen path. Null = not a
    * big-values-decodable stream. */
  def bigvaluesRow(b: Array[Byte]): InternalRow = bigvaluesInfo(b) match {
    case Some((nr, np, nz, nn, sv)) => InternalRow(nr, np, nz, nn, sv)
    case None => null
  }

  /** The `count1Row` result row. */
  val count1RowType: StructType =
    row("n_quads" -> LongType, "n_nonzero" -> LongType, "n_neg" -> LongType,
      "sum_vals" -> LongType)

  /** [[count1Info]] as an `InternalRow` for the
    * `mp3_count1` codegen path. Null = not a
    * count1-decodable stream. */
  def count1Row(b: Array[Byte]): InternalRow = count1Info(b) match {
    case Some((nq, nz, nn, sv)) => InternalRow(nq, nz, nn, sv)
    case None => null
  }

  /** The `sideInfoRow` result row. */
  val sideInfoRowType: StructType =
    row("main_data_begin" -> IntegerType, "channels" -> IntegerType,
      "scfsi_mask" -> IntegerType, "p23_sum" -> LongType,
      "bigv_sum" -> LongType, "gain_max" -> IntegerType,
      "bt1" -> IntegerType, "mixed1" -> IntegerType, "tsel_sum" -> LongType,
      "reg_sum" -> LongType, "sbg_sum" -> LongType, "flags_sum" -> LongType,
      "part2_bits" -> LongType, "sf_sum" -> LongType, "sf_n" -> LongType)

  /** [[sideInfo]] as an `InternalRow` for the
    * `mp3_side_info` codegen path. Null = not a
    * decodable MPEG-1 Layer III first frame. */
  def sideInfoRow(b: Array[Byte]): InternalRow = sideInfo(b) match {
    case Some(m) => InternalRow(m.mainDataBegin, m.channels,
      m.scfsiMask, m.p23Sum, m.bigvSum, m.gainMax, m.bt1, m.mixed1,
      m.tselSum, m.regSum, m.sbgSum, m.flagsSum, m.part2Bits,
      m.sfSum, m.sfN)
    case None => null
  }

  /** The `id3TagsRow` result row. */
  val id3TagsRowType: StructType =
    StructType(Seq("title", "artist", "album")
      .map(StructField(_, StringType, nullable = true)) :+
      StructField("version", IntegerType, nullable = false))

  /** [[id3TextFrames]] as an `InternalRow` for the
    * `id3_tags` codegen path. Null = no/malformed
    * tag. */
  def id3TagsRow(b: Array[Byte]): InternalRow = id3TextFrames(b) match {
    case Some((t, a, al, v)) =>
      def u(s: String) =
        if (s == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(s)
      InternalRow(u(t), u(a), u(al), v)
    case None => null
  }
}
