package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.NativeFn.row

/** Real RIFF/WAVE header parsing — pure byte arithmetic, no codec
  * library; the little-endian complement of [[ImageHeaders]]' walks.
  *
  * A RIFF file is "RIFF" + u32le size + "WAVE", then a chunk walk of
  * [id:4][size:u32le][payload, padded to even length]. The "fmt "
  * chunk carries the PCM geometry ([format u16][channels u16]
  * [sample_rate u32][byte_rate u32][block_align u16][bits u16], all
  * little-endian); the "data" chunk's DECLARED size gives the sample
  * count as size / block_align. Only declared sizes are read — the
  * payload itself may be absent/truncated, which is exactly how
  * metadata extraction over a 100 TB media lake wants to behave
  * (header-range reads, never full-object fetches).
  *
  * Anything truncated, non-PCM (format != 1), or self-inconsistent
  * (block_align != channels * bits/8, bits not a byte multiple)
  * parses to None. Chunks other than "fmt "/"data" (LIST, fact, cue,
  * …) are skipped by declared length like JPEG's APPn segments.
  */
object AudioHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16le(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    u8(b, i) == s.charAt(0) && u8(b, i + 1) == s.charAt(1) &&
      u8(b, i + 2) == s.charAt(2) && u8(b, i + 3) == s.charAt(3)

  /** One RIFF chunk walk, shared by [[parse]], [[levels]] and
    * [[ulawLevels]]:
    * (fmt, channels, rate, bits, blockAlign, dataStart, dataSize),
    * else None. `fmt` is the WAVE format tag — linear PCM (1) and
    * G.711 A-law/µ-law (6/7, bits must be 8 per the spec) pass the
    * walk; each decoder then gates on the tag it can expand.
    * `dataStart`
    * is the byte offset of the data PAYLOAD (which may be absent or
    * truncated — only the declared size is trusted). */
  private def walkChunks(
      b: Array[Byte]): Option[(Int, Int, Int, Int, Int, Long, Long)] = {
    if (b == null || b.length < 12) return None
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return None
    val n = b.length
    var i = 12L
    var geom: Option[(Int, Int, Int, Int)] = None // fmt, ch, rate, bits
    var blockAlign = 0
    var dataStart = -1L
    var dataSize = -1L
    while (i + 8 <= n && (geom.isEmpty || dataSize < 0)) {
      val at = i.toInt
      val size = u32le(b, at + 4)
      val start = at + 8
      if (tag(b, at, "fmt ")) {
        // fmt must be complete (sample geometry is the whole point)
        if (size < 16 || start + 16 > n) return None
        val fmt = u16le(b, start)
        // integer PCM, IEEE float, A-law, or µ-law only
        if (fmt != 1 && fmt != 3 && fmt != 6 && fmt != 7) return None
        val ch = u16le(b, start + 2)
        val rate = u32le(b, start + 4)
        blockAlign = u16le(b, start + 12)
        val bits = u16le(b, start + 14)
        if (ch < 1 || rate < 1 || rate > Int.MaxValue ||
          bits < 8 || bits % 8 != 0) return None
        // G.711 codes are bytes; IEEE float is 32- or 64-bit
        if ((fmt == 6 || fmt == 7) && bits != 8) return None
        if (fmt == 3 && bits != 32 && bits != 64) return None
        if (blockAlign != ch * (bits / 8)) return None
        geom = Some((fmt, ch, rate.toInt, bits))
      } else if (tag(b, at, "data")) {
        if (geom.isEmpty) return None // spec: fmt precedes data
        dataStart = start.toLong
        dataSize = size
      }
      i = start.toLong + size + (size & 1L) // pad byte on odd sizes
    }
    geom match {
      case Some((fmt, ch, rate, bits)) if dataSize >= 0 =>
        Some((fmt, ch, rate, bits, blockAlign, dataStart, dataSize))
      case _ => None
    }
  }

  /** (channels, sample_rate, bits_per_sample, n_samples) of a PCM
    * WAV payload, else None. */
  def parse(b: Array[Byte]): Option[(Int, Int, Int, Long)] =
    walkChunks(b).collect {
      // integer PCM and IEEE-float WAVs both carry their geometry in
      // the header alone — metadata needs no sample decode (float
      // SAMPLE metering stays out: float arithmetic is not
      // oracle-exact)
      case (fmt, ch, rate, bits, blockAlign, _, dataSize)
          if fmt == 1 || fmt == 3 =>
        (ch, rate, bits, dataSize / blockAlign)
    }

  /** REAL sample-payload decode for ALL THREE integer PCM widths —
    * 8-bit (UNSIGNED, 128-biased — the WAV spec's one asymmetry),
    * 16-bit and 24-bit (signed little-endian two's complement) need
    * no codec, just the reinterpretation. Per-file levels over the
    * sample values ACTUALLY PRESENT (min of declared size and bytes
    * on hand, so a header-range read that carried part of the
    * payload still meters what it has):
    * (channels, sample_rate, n_values, sum_sq, peak_abs, n_clipped),
    * where `n_values` counts individual values across channels,
    * `sum_sq` is the exact integer sum of squares (24-bit: 2^46 per
    * value × any single file under 4 GB stays under 2^63),
    * `peak_abs` is max |s|, and `n_clipped` counts values at the
    * WIDTH's digital full scale. None for non-PCM,
    * truncated-header, or other-width payloads — the compressed
    * modalities stay behind the declared stub in
    * [[Multimodal.StubCodec]]. */
  def levels(b: Array[Byte]): Option[(Int, Int, Long, Long, Int, Long)] =
    walkChunks(b).flatMap {
      // 8-bit PCM is UNSIGNED with a 128 bias (the WAV spec's one
      // asymmetry); 16/24-bit are signed little-endian two's
      // complement. Rails are each width's digital full scale.
      case (1, ch, rate, bits, _, dataStart, dataSize)
          if bits == 8 || bits == 16 || bits == 24 =>
        val bytes = bits / 8
        val end = math.min(dataStart + dataSize, b.length.toLong)
        val railHi = (1 << (bits - 1)) - 1
        val railLo = -(1 << (bits - 1))
        var p = dataStart
        var cnt = 0L
        var sumSq = 0L
        var peak = 0
        var clips = 0L
        while (p + bytes <= end) {
          val i = p.toInt
          val s = bits match {
            case 8 => u8(b, i) - 128
            case 16 =>
              val u = u16le(b, i)
              if (u >= 0x8000) u - 0x10000 else u
            case _ =>
              val u = u8(b, i) | (u8(b, i + 1) << 8) |
                (u8(b, i + 2) << 16)
              if (u >= 0x800000) u - 0x1000000 else u
          }
          sumSq += s.toLong * s
          val a = if (s < 0) -s else s // full-scale negative survives
          if (a > peak) peak = a
          if (s == railHi || s == railLo) clips += 1
          cnt += 1
          p += bytes
        }
        Some((ch, rate, cnt, sumSq, peak, clips))
      case _ => None
    }

  /** The `levelsRow` result row. */
  val levelsRowType: StructType =
    row("channels" -> IntegerType, "sample_rate" -> IntegerType,
      "n_values" -> LongType, "sum_sq" -> LongType, "peak" -> IntegerType,
      "n_clipped" -> LongType)

  /** [[levels]] as an `InternalRow` for the
    * `audio_levels` codegen path. Null = not a
    * 16-bit PCM WAV. */
  def levelsRow(b: Array[Byte]): InternalRow = levels(b) match {
    case Some((ch, rate, nv, ssq, pk, cl)) =>
      InternalRow(ch, rate, nv, ssq, pk, cl)
    case None => null
  }

  /** REAL FLAC STREAMINFO decode — the audio container family's
    * BIG-endian, bit-packed member (WAV is LE and byte-aligned; FLAC
    * is the counterpoint on both axes). A FLAC stream is "fLaC"
    * followed by metadata blocks `[is_last:1|type:7][len:u24be]
    * [body]`; the spec requires the FIRST block to be STREAMINFO
    * (type 0, body exactly 34 bytes). The sample geometry lives in
    * one 64-bit big-endian bit-pack at body offset 10:
    * 20 bits sample rate, 3 bits channels−1, 5 bits bits/sample−1,
    * 36 bits total inter-channel samples. Only the header range is
    * read — later blocks (PADDING, VORBIS_COMMENT, …) and the frame
    * payload may be absent, the same declared-size semantics as the
    * WAV walk above. Fail-closed: wrong magic / first block not
    * STREAMINFO / short buffer / out-of-spec geometry (rate 0 or
    * > 655350, bits < 4) → None. */
  def parseFlac(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 42) return None
    if (!tag(b, 0, "fLaC")) return None
    val hdr = u8(b, 4)
    if ((hdr & 0x7f) != 0) return None // first block must be STREAMINFO
    val len = (u8(b, 5) << 16) | (u8(b, 6) << 8) | u8(b, 7)
    if (len != 34) return None
    // the packed geometry: body bytes 10..17 = file bytes 18..25
    val rate = (u8(b, 18) << 12) | (u8(b, 19) << 4) | (u8(b, 20) >> 4)
    val ch = ((u8(b, 20) >> 1) & 7) + 1
    val bits = (((u8(b, 20) & 1) << 4) | (u8(b, 21) >> 4)) + 1
    val total = ((u8(b, 21) & 0x0f).toLong << 32) |
      (u8(b, 22).toLong << 24) | (u8(b, 23).toLong << 16) |
      (u8(b, 24).toLong << 8) | u8(b, 25).toLong
    if (rate < 1 || rate > 655350 || bits < 4) None
    else Some((ch, rate, bits, total))
  }

  /** REAL FLAC FRAME-payload decode for CONSTANT, VERBATIM and
    * FIXED subframes (FLAC §9.2.2–9.2.7): CONSTANT/VERBATIM are the
    * audio analog of H.264's I_PCM escape hatch (pure bit reads),
    * and FIXED is genuine COMPRESSED audio — order-0..4 polynomial
    * predictors over Rice/Rice2-coded residuals (unary quotient +
    * binary remainder + zigzag; escaped raw-binary partitions and
    * multi-partition residual layouts included) — decoded without
    * a codec library because Rice coding is pure bit arithmetic,
    * not table-driven entropy coding. The walk: STREAMINFO geometry
    * ([[parseFlac]]), metadata blocks skipped by declared length,
    * then FRAMES until the STREAMINFO total is reached — per frame
    * the sync code, blocksize/rate/sample-size codes (inline
    * 8/16-bit blocksize forms and the from-STREAMINFO codes; inline
    * rate bytes skipped), the UTF-8 coded frame number, then per
    * channel the bit-packed subframe, reconstructed through the
    * §9.2.2 fixed-predictor recurrences and sign-extended at the
    * declared width. Metering matches [[levels]]: exact integer
    * sum of squares, peak |s|, and digital-full-scale count at the
    * width's rails.
    *
    * LPC subframes (§9.2.4 — what virtually all production FLAC
    * frames carry) decode for ANY order 1–32: warm-up samples, the
    * 4-bit coefficient-precision and 5-bit quantization-shift
    * header walk, precision-bit signed quantized coefficients, the
    * same §9.2.7 coded residual as FIXED, and the all-integer
    * prediction recurrence (64-bit coefficient dot product,
    * arithmetic right shift).
    *
    * STEREO DECORRELATION (§9.1.3) decodes for all three modes —
    * left/side, side/right (channel assignments 8/9: the side
    * channel is the inter-channel difference, one bit wider) and
    * mid/side (10: mid drops the sum's LSB, recovered from the side
    * channel's parity — the lossless trick that makes mid/side
    * exact) — reconstructing left/right before metering, so a
    * decoder that mis-widths the side subframe or drops the parity
    * bit hash-mismatches.
    *
    * WASTED BITS (§9.2.1) decode too: a flagged subframe codes
    * samples right-shifted by the unary-coded k, restored by a left
    * shift after reconstruction — the encoder trick for sources
    * with constant trailing zero bits (e.g. 14-bit masters shipped
    * as 16-bit).
    *
    * Fail-closed (None) on anything OUTSIDE the decoded subset:
    * reserved subframe types, invalid coefficient precision (15),
    * negative quantization shifts, reserved residual methods,
    * wasted-bit counts that consume the whole sample width,
    * reserved channel assignments (11+), nonzero alignment padding,
    * short frames, or a decoded total that misses STREAMINFO's.
    * CRC-8/CRC-16 are skipped, not verified — the [[parseOgg]]
    * metadata-pass discipline. */
  def parseFlacPcm(b: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Int, Long)] = {
    val geo = parseFlac(b)
    if (geo.isEmpty) return None
    val (ch, rate, bits0, total) = geo.get
    // metadata blocks: [last:1|type:7][len:u24be][body]
    var i = 4
    var last = false
    while (!last) {
      if (i + 4 > b.length) return None
      last = (u8(b, i) & 0x80) != 0
      val len = (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
      i += 4 + len
      if (i > b.length) return None
    }
    var decoded = 0L
    var nValues = 0L
    var sumSq = 0L
    var peak = 0
    var nClipped = 0L
    val railHi = (1 << (bits0 - 1)) - 1
    val railLo = -(1 << (bits0 - 1))
    while (decoded < total) {
      if (i + 5 > b.length) return None
      if (u8(b, i) != 0xff || (u8(b, i + 1) & 0xfe) != 0xf8) return None
      val bsCode = u8(b, i + 2) >> 4
      val srCode = u8(b, i + 2) & 0xf
      val chAsgn = u8(b, i + 3) >> 4
      val ssCode = (u8(b, i + 3) >> 1) & 7
      if ((u8(b, i + 3) & 1) != 0) return None
      // 0–7 = independent channels; 8/9/10 = decorrelated stereo
      // (left/side, right/side, mid/side — §9.1.3); 11+ reserved
      if (chAsgn <= 7) { if (chAsgn + 1 != ch) return None }
      else if (chAsgn <= 10) { if (ch != 2) return None }
      else return None
      val bits = ssCode match {
        case 0 => bits0
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case _ => return None
      }
      if (bits != bits0) return None // one meter width per stream
      i += 4
      // UTF-8 coded frame/sample number (value unused; walk only)
      val b0 = u8(b, i)
      val extra =
        if (b0 < 0x80) 0
        else if ((b0 & 0xe0) == 0xc0) 1
        else if ((b0 & 0xf0) == 0xe0) 2
        else if ((b0 & 0xf8) == 0xf0) 3
        else if ((b0 & 0xfc) == 0xf8) 4
        else if ((b0 & 0xfe) == 0xfc) 5
        else if (b0 == 0xfe) 6
        else return None
      if (i + 1 + extra > b.length) return None
      var k = 0
      while (k < extra) {
        if ((u8(b, i + 1 + k) & 0xc0) != 0x80) return None
        k += 1
      }
      i += 1 + extra
      val blockSize: Int = bsCode match {
        case 0 => return None
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 =>
          if (i >= b.length) return None
          val v = u8(b, i) + 1; i += 1; v
        case 7 =>
          if (i + 1 >= b.length) return None
          val v = ((u8(b, i) << 8) | u8(b, i + 1)) + 1; i += 2; v
        case c => 256 << (c - 8)
      }
      srCode match {
        case 12 => i += 1 // inline kHz byte
        case 13 | 14 => i += 2 // inline Hz / daHz u16
        case 15 => return None
        case _ => ()
      }
      if (i >= b.length) return None
      i += 1 // CRC-8 over the header — skipped, not verified
      // MSB-first bit reader over the subframes
      var bitPos = 0
      var ok = true
      def readBits(n: Int): Long = {
        var v = 0L
        var r = n
        while (r > 0) {
          if (i >= b.length) { ok = false; return 0L }
          val avail = 8 - bitPos
          val take = if (avail < r) avail else r
          val chunk = (u8(b, i) >> (avail - take)) & ((1 << take) - 1)
          v = (v << take) | chunk
          bitPos += take
          r -= take
          if (bitPos == 8) { bitPos = 0; i += 1 }
        }
        v
      }
      def meter(sv: Long): Unit = {
        nValues += 1
        sumSq += sv * sv
        val a = if (sv < 0) -sv else sv
        if (a > peak) peak = a.toInt
        if (sv == railHi || sv == railLo) nClipped += 1
      }
      // unary: zero bits until the terminating one (FLAC's Rice
      // quotient form) — bounded by the buffer via `ok`
      def readUnary(): Long = {
        var q = 0L
        while (ok) {
          if (readBits(1) == 1) return q
          if (!ok) return 0L
          q += 1
        }
        0L
      }
      // §9.2.7 coded residual into s(order..blockSize): 2-bit
      // method (0 = 4-bit Rice params, 1 = 5-bit Rice2 params),
      // 4-bit partition order, per-partition param or 5-bit escaped
      // raw width — shared by the FIXED and LPC subframe classes
      // (the spec uses one residual coding for both)
      def readResidualInto(s: Array[Long], order: Int): Boolean = {
        val blockSize = s.length
        val method = readBits(2).toInt
        if (!ok || method > 1) return false
        val p = readBits(4).toInt
        if (!ok) return false
        val parts = 1 << p
        if (blockSize % parts != 0) return false
        val paramBits = if (method == 0) 4 else 5
        val escapeCode = (1 << paramBits) - 1
        var part = 0
        var idx = order
        while (part < parts) {
          val n = (blockSize >> p) - (if (part == 0) order else 0)
          if (n < 0) return false
          val param = readBits(paramBits).toInt
          if (!ok) return false
          if (param == escapeCode) {
            val raw = readBits(5).toInt
            if (!ok) return false
            var r = 0
            while (r < n) {
              s(idx) =
                if (raw == 0) 0L
                else {
                  val v = readBits(raw)
                  if ((v & (1L << (raw - 1))) != 0) v - (1L << raw)
                  else v
                }
              if (!ok) return false
              idx += 1; r += 1
            }
          } else {
            var r = 0
            while (r < n) {
              val q = readUnary()
              if (!ok) return false
              val rem = if (param == 0) 0L else readBits(param)
              if (!ok) return false
              val u = (q << param) | rem
              // zigzag: even → u/2, odd → -(u/2)-1
              s(idx) = if ((u & 1L) != 0) -(u >> 1) - 1 else u >> 1
              idx += 1; r += 1
            }
          }
          part += 1
        }
        true
      }
      // one subframe at the given sample width (the SIDE channel of
      // a decorrelated pair carries width+1 — §9.1.3), fully
      // reconstructed; null = malformed / outside the decoded set
      def decodeSubframe(fullWidth: Int): Array[Long] = {
        if (readBits(1) != 0 || !ok) return null // subframe pad bit
        val tpe = readBits(6).toInt
        // §9.2.1 wasted bits: flag 1 → k−1 zeros then a one (k ≥ 1)
        // trailing zero bits per sample; the subframe codes samples
        // RIGHT-shifted by k, restored by a left shift at the end
        var wasted = 0
        val wFlag = readBits(1)
        if (!ok) return null
        if (wFlag == 1) {
          var z = 0
          while (ok && readBits(1) == 0) {
            z += 1
            if (z > 30) return null // no real width survives that
          }
          if (!ok) return null
          wasted = z + 1
        }
        if (wasted >= fullWidth) return null
        val width = fullWidth - wasted
        def sgn(v: Long): Long =
          if ((v & (1L << (width - 1))) != 0) v - (1L << width) else v
        def restore(s: Array[Long]): Array[Long] = {
          if (wasted > 0) {
            var j = 0
            while (j < s.length) { s(j) <<= wasted; j += 1 }
          }
          s
        }
        tpe match {
          case 0 => // CONSTANT: one value fills the block
            val sv = sgn(readBits(width))
            if (!ok) return null
            restore(Array.fill(blockSize)(sv))
          case 1 => // VERBATIM: blocksize raw values
            val s = new Array[Long](blockSize)
            var j = 0
            while (j < blockSize) {
              s(j) = sgn(readBits(width))
              if (!ok) return null
              j += 1
            }
            restore(s)
          case t if t >= 8 && t <= 12 => // FIXED predictor, order 0-4
            val order = t - 8
            if (order > blockSize) return null
            val s = new Array[Long](blockSize)
            var j = 0
            while (j < order) { // warm-up samples at full width
              s(j) = sgn(readBits(width))
              if (!ok) return null
              j += 1
            }
            if (!readResidualInto(s, order)) return null
            // fixed-predictor reconstruction (§9.2.2 coefficients)
            var i2 = order
            while (i2 < blockSize) {
              order match {
                case 0 => ()
                case 1 => s(i2) += s(i2 - 1)
                case 2 => s(i2) += 2 * s(i2 - 1) - s(i2 - 2)
                case 3 => s(i2) += 3 * s(i2 - 1) - 3 * s(i2 - 2) +
                  s(i2 - 3)
                case 4 => s(i2) += 4 * s(i2 - 1) - 6 * s(i2 - 2) +
                  4 * s(i2 - 3) - s(i2 - 4)
              }
              i2 += 1
            }
            restore(s)
          case t if t >= 32 => // LPC, order 1..32 (§9.2.4)
            val order = t - 31
            if (order > blockSize) return null
            val s = new Array[Long](blockSize)
            var j = 0
            while (j < order) { // warm-up samples at full width
              s(j) = sgn(readBits(width))
              if (!ok) return null
              j += 1
            }
            // 4-bit coefficient precision minus 1 (15 = invalid)
            val precM1 = readBits(4).toInt
            if (!ok || precM1 == 15) return null
            val prec = precM1 + 1
            // 5-bit two's-complement quantization shift; the spec
            // marks negative shifts unused/invalid — fail closed
            val shiftRaw = readBits(5).toInt
            if (!ok || (shiftRaw & 0x10) != 0) return null
            val shift = shiftRaw
            // order × precision-bit signed quantized coefficients,
            // c(0) multiplying the most recent sample
            val coef = new Array[Long](order)
            j = 0
            while (j < order) {
              val v = readBits(prec)
              if (!ok) return null
              coef(j) =
                if ((v & (1L << (prec - 1))) != 0) v - (1L << prec)
                else v
              j += 1
            }
            if (!readResidualInto(s, order)) return null
            // all-integer prediction recurrence: the coefficient dot
            // product accumulates in 64-bit and shifts ARITHMETICALLY
            // right (§9.2.4's quantized-LPC reconstruction)
            var i2 = order
            while (i2 < blockSize) {
              var acc = 0L
              var k2 = 0
              while (k2 < order) {
                acc += coef(k2) * s(i2 - 1 - k2)
                k2 += 1
              }
              s(i2) += acc >> shift
              i2 += 1
            }
            restore(s)
          case _ => null // reserved subframe types (2–7, 13–31)
        }
      }
      if (chAsgn <= 7) { // independent channels
        var c = 0
        while (c < ch) {
          val s = decodeSubframe(bits)
          if (s == null) return None
          var m = 0
          while (m < blockSize) { meter(s(m)); m += 1 }
          c += 1
        }
      } else {
        // §9.1.3 stereo decorrelation: the side channel (the second
        // subframe except for right/side) is one bit wider
        val s0 = decodeSubframe(if (chAsgn == 9) bits + 1 else bits)
        if (s0 == null) return None
        val s1 = decodeSubframe(if (chAsgn == 9) bits else bits + 1)
        if (s1 == null) return None
        var m = 0
        while (m < blockSize) {
          var l = 0L; var rv = 0L
          chAsgn match {
            case 8 => // left/side: right = left − side
              l = s0(m); rv = s0(m) - s1(m)
            case 9 => // side/right: left = right + side
              l = s1(m) + s0(m); rv = s1(m)
            case _ => // mid/side: mid dropped the LSB; side's
              // parity restores it (§9.1.3's lossless trick)
              val mid2 = (s0(m) << 1) | (s1(m) & 1L)
              l = (mid2 + s1(m)) >> 1
              rv = (mid2 - s1(m)) >> 1
          }
          meter(l); meter(rv)
          m += 1
        }
      }
      if (bitPos != 0) { // frame padding to byte alignment is zeros
        if ((u8(b, i) & ((1 << (8 - bitPos)) - 1)) != 0) return None
        i += 1
      }
      if (i + 2 > b.length) return None
      i += 2 // CRC-16 over the frame — skipped, not verified
      decoded += blockSize
    }
    if (decoded != total) return None
    Some((ch, rate, bits0, nValues, sumSq, peak, nClipped))
  }

  /** The `flacPcmRow` result row. */
  val flacPcmRowType: StructType =
    row("channels" -> IntegerType, "sample_rate" -> IntegerType,
      "bits" -> IntegerType, "n_values" -> LongType, "sum_sq" -> LongType,
      "peak" -> IntegerType, "n_clipped" -> LongType)

  /** [[parseFlacPcm]] as an `InternalRow` for the
    * `flac_pcm_levels` codegen path. Null = not a
    * FLAC stream of uncoded (CONSTANT/VERBATIM) frames. */
  def flacPcmRow(b: Array[Byte]): InternalRow = parseFlacPcm(b) match {
    case Some((ch, rate, bits, nv, ssq, pk, cl)) =>
      InternalRow(ch, rate, bits, nv, ssq, pk, cl)
    case None => null
  }

  /** REAL Ogg/Vorbis metadata — the audio family's PAGE-structured
    * member: an Ogg stream is back-to-back pages
    * `"OggS" ver(0) type granule(u64le) serial pageseq crc
    * nsegs lacing[nsegs] payload`, where payload length is the SUM
    * of the lacing values (the capture-pattern is NOT reliable for
    * resync — payloads may contain "OggS" — so the walk is
    * lacing-arithmetic-driven, the same declared-length discipline
    * as the WARC walk). The first page must be BOS (type bit 0x02)
    * and carry the Vorbis identification packet
    * (`0x01 "vorbis" version=0 channels(u8) rate(u32le) …`); the
    * DURATION lives at the other end — the last page's granule
    * position is the total PCM sample count, which is exactly why
    * players seek to EOF for it. CRCs are not verified (a metadata
    * pass reads header ranges, it doesn't checksum payloads).
    * Returns (channels, rate, bits = 0 — not applicable to a lossy
    * codec, the documented sentinel — and n_samples = the last
    * page's granule, 0 when no page carries one). Fail-closed on a
    * malformed page chain, a non-BOS first page, or out-of-spec
    * geometry. */
  def parseOgg(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 58) return None
    var i = 0
    var first = true
    var ch = 0
    var rate = 0L
    var lastGranule = 0L
    while (i < b.length) {
      if (i + 27 > b.length) return None
      if (!tag(b, i, "OggS") || u8(b, i + 4) != 0) return None
      val htype = u8(b, i + 5)
      // u64le granule; -1 (all FF) = "no packet ends on this page"
      var g = 0L
      var k = 7
      while (k >= 0) { g = (g << 8) | u8(b, i + 6 + k); k -= 1 }
      val nsegs = u8(b, i + 26)
      if (i + 27 + nsegs > b.length) return None
      var payload = 0
      var s = 0
      while (s < nsegs) { payload += u8(b, i + 27 + s); s += 1 }
      val body = i + 27 + nsegs
      if (body + payload > b.length) return None
      if (first) {
        if ((htype & 0x02) == 0) return None // first page must be BOS
        // Vorbis identification packet
        if (payload < 30 || u8(b, body) != 1 ||
          !tag(b, body + 1, "vorb") || !tag(b, body + 3, "rbis"))
          return None
        if (u32le(b, body + 7) != 0L) return None // vorbis version
        ch = u8(b, body + 11)
        rate = u32le(b, body + 12)
        if (ch < 1 || rate < 1 || rate > Int.MaxValue) return None
        first = false
      }
      if (g != -1L) lastGranule = g
      i = body + payload
    }
    Some((ch, rate.toInt, 0, lastGranule))
  }

  /** FLAC VORBIS_COMMENT tags — the OTHER audio tag format next to
    * ID3 ([[Mp3Headers.id3TextFrames]]), with the cross-endian
    * gotcha that defines it: the block FRAMING is big-endian (type
    * byte + u24be length, like every FLAC block) but the comment
    * PAYLOAD is little-endian length-prefixed UTF-8 (vendor length,
    * comment count, per-comment lengths — Vorbis comment spec),
    * keys case-insensitive per spec. Walks the metadata chain past
    * STREAMINFO to the first type-4 block; absent keys are null
    * fields; a PRESENT block that overruns its declared extent
    * fails closed; a stream with no comment block at all yields
    * all-null fields (absence is not an error). */
  def parseFlacTags(b: Array[Byte])
      : Option[(String, String, String)] = {
    if (b == null || b.length < 42) return None
    if (!tag(b, 0, "fLaC")) return None
    var i = 4
    var last = false
    while (!last && i + 4 <= b.length) {
      val hdr = u8(b, i)
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
      val body = i + 4
      if (typ == 4) {
        if (body + len > b.length) return None // comment block cut
        val end = body + len
        var p = body
        def le32(): Long = {
          if (p + 4 > end) return -1L
          val v = u32le(b, p); p += 4; v
        }
        val vlen = le32()
        if (vlen < 0 || p + vlen > end) return None
        p += vlen.toInt
        val n = le32()
        if (n < 0 || n > 1000000) return None
        var title: String = null
        var artist: String = null
        var album: String = null
        var k = 0L
        while (k < n) {
          val clen = le32()
          if (clen < 0 || p + clen > end) return None
          val field = new String(b, p, clen.toInt, "UTF-8")
          p += clen.toInt
          val eq = field.indexOf('=')
          if (eq > 0) {
            val key = field.substring(0, eq)
              .toUpperCase(java.util.Locale.ROOT)
            val v = field.substring(eq + 1)
            key match {
              case "TITLE" => title = v
              case "ARTIST" => artist = v
              case "ALBUM" => album = v
              case _ => ()
            }
          }
          k += 1
        }
        return Some((title, artist, album))
      }
      i = body + len
    }
    // chain ended (or ran past the header range) without a comment
    // block: no tags — absence is not an error
    Some((null, null, null))
  }

  /** [[parseFlacTags]] as an `InternalRow` for the
    * `flac_tags` codegen path. Null = not FLAC or
    * a malformed comment block. */
  /** Ogg/Vorbis COMMENT-header tags — the tag half [[parseOgg]]'s
    * page walk only skips: packets are reassembled from LACING
    * values (a packet ends at the first lacing value < 255; 255
    * means it continues into the next value or page — real header
    * packets span pages in the wild), and the first packet opening
    * `0x03 "vorbis"` carries the same little-endian length-prefixed
    * comment structure as FLAC's VORBIS_COMMENT
    * ([[parseFlacTags]]) followed by the spec's mandatory framing
    * bit (fail-closed when absent or zero — a truncated comment
    * header must not pass as tagless). The identification packet is
    * validated first, the [[parseOgg]] discipline; a stream whose
    * pages exhaust without a comment packet yields all-null fields
    * (absence is not an error). */
  def parseOggTags(b: Array[Byte])
      : Option[(String, String, String)] = {
    if (b == null || b.length < 58) return None
    if (!tag(b, 0, "OggS")) return None
    var i = 0
    var first = true
    val packet = new java.io.ByteArrayOutputStream(256)
    var sawComment = false
    var out: Option[(String, String, String)] = None
    while (i < b.length && !sawComment) {
      if (i + 27 > b.length) return None
      if (!tag(b, i, "OggS") || u8(b, i + 4) != 0) return None
      val htype = u8(b, i + 5)
      val nsegs = u8(b, i + 26)
      if (i + 27 + nsegs > b.length) return None
      var p = i + 27 + nsegs // payload cursor
      var s = 0
      while (s < nsegs && !sawComment) {
        val lace = u8(b, i + 27 + s)
        if (p + lace > b.length) return None
        packet.write(b, p, lace)
        p += lace
        if (lace < 255) { // packet complete
          val pk = packet.toByteArray
          packet.reset()
          if (first) {
            // BOS page must open with the identification packet
            if ((htype & 0x02) == 0) return None
            if (pk.length < 30 || pk(0) != 1 ||
              !tag(pk, 1, "vorb") || !tag(pk, 3, "rbis")) return None
            first = false
          } else if (pk.length >= 7 && (pk(0) & 0xff) == 3 &&
            tag(pk, 1, "vorb") && tag(pk, 3, "rbis")) {
            sawComment = true
            out = parseVorbisComments(pk)
            if (out.isEmpty) return None // malformed comment packet
          }
        }
        s += 1
      }
      if (!sawComment) i = p
    }
    if (first) None // no complete identification packet
    else if (sawComment) out
    else Some((null, null, null)) // tagless stream: not an error
  }

  /** The `0x03 "vorbis"` comment packet body: little-endian
    * length-prefixed vendor + comments (the [[parseFlacTags]]
    * payload), then the framing bit that must be present and set. */
  private def parseVorbisComments(pk: Array[Byte])
      : Option[(String, String, String)] = {
    val end = pk.length
    var p = 7
    def le32(): Long = {
      if (p + 4 > end) return -1L
      val v = u32le(pk, p); p += 4; v
    }
    val vlen = le32()
    if (vlen < 0 || p + vlen > end) return None
    p += vlen.toInt
    val n = le32()
    if (n < 0 || n > 1000000) return None
    var title: String = null
    var artist: String = null
    var album: String = null
    var k = 0L
    while (k < n) {
      val clen = le32()
      if (clen < 0 || p + clen > end) return None
      val field = new String(pk, p, clen.toInt, "UTF-8")
      p += clen.toInt
      val eq = field.indexOf('=')
      if (eq > 0) {
        val key = field.substring(0, eq)
          .toUpperCase(java.util.Locale.ROOT)
        val v = field.substring(eq + 1)
        key match {
          case "TITLE" => title = v
          case "ARTIST" => artist = v
          case "ALBUM" => album = v
          case _ => ()
        }
      }
      k += 1
    }
    // §5 framing bit: mandatory, nonzero
    if (p >= end || (pk(p) & 1) != 1) return None
    Some((title, artist, album))
  }

  /** The `flacTagsRow` result row. */
  val flacTagsRowType: StructType =
    StructType(Seq("title", "artist", "album")
      .map(StructField(_, StringType, nullable = true)))

  /** Tag extraction for BOTH Vorbis-comment carriers,
    * magic-dispatched like [[metaRow]]: "OggS" → the page-walk
    * comment-packet path, anything else → the FLAC metadata-block
    * path. */
  def flacTagsRow(b: Array[Byte]): InternalRow = {
    val parsed =
      if (b != null && b.length >= 4 && tag(b, 0, "OggS"))
        parseOggTags(b)
      else parseFlacTags(b)
    parsed match {
      case Some((t, a, al)) =>
        def u(s: String) =
          if (s == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(s)
        InternalRow(u(t), u(a), u(al))
      case None => null
    }
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("channels" -> IntegerType, "sample_rate" -> IntegerType,
      "bits" -> IntegerType, "n_samples" -> LongType)

  /** [[parse]] as an `InternalRow` for the
    * `audio_meta` codegen path (called from
    * generated Java — keep the signature static-friendly). One
    * expression, three containers: dispatches on the in-band magic —
    * "fLaC" → [[parseFlac]], "OggS" → [[parseOgg]], RIFF/WAVE →
    * [[parse]] — the same multi-format sniff [[ImageHeaders.parse]]
    * does for images. Null = no container parses. */
  def parseRow(b: Array[Byte]): InternalRow = {
    val r =
      if (b != null && b.length >= 4 && tag(b, 0, "fLaC")) parseFlac(b)
      else if (b != null && b.length >= 4 && tag(b, 0, "OggS"))
        parseOgg(b)
      else parse(b)
    r match {
      case Some((ch, rate, bits, ns)) => InternalRow(ch, rate, bits, ns)
      case None => null
    }
  }

  /** Energy-delta audio fingerprint over decoded 16-bit PCM — the
    * audio lane's REAL pixel-derived analog of
    * [[ImageGrid.dhash64]], the time-axis skeleton of the robust
    * audio hash of Haitsma & Kalker, "A Highly Robust Audio
    * Fingerprinting System" (ISMIR 2002): their bit is the SIGN of
    * an energy DIFFERENCE between adjacent frames (and bands; with
    * no FFT on the classpath this takes the single-band time-energy
    * column of their matrix, which is the part that carries
    * alignment):
    *
    *  - frame the PCM values in fours (frame f = values 4f..4f+3,
    *    interleaved across channels — fingerprints compare only
    *    like-geometry clips, so interleaving is a fixed permutation
    *    that cancels out);
    *  - per-frame energy E_f = Σ s² (exact integer, the same
    *    arithmetic as [[levels]]);
    *  - bit f = E_{f+1} > E_f for the first 32 frame boundaries,
    *    packed little-endian into a non-negative long.
    *
    * Energy ORDER, not magnitude, so level scaling (volume) leaves
    * the fingerprint fixed — the property a fingerprint lane
    * exploits. Returns (sample_rate, n_frames, fp); None for
    * non-16-bit-PCM payloads or clips with fewer than two complete
    * frames (nothing to compare). */
  def fingerprint(b: Array[Byte]): Option[(Int, Long, Long)] =
    walkChunks(b).flatMap {
      case (1, _, rate, bits, _, dataStart, dataSize) if bits == 16 =>
        val end = math.min(dataStart + dataSize, b.length.toLong)
        val nFrames = ((end - dataStart) / 8).toInt
        if (nFrames < 2) None
        else {
          val energy = new Array[Long](nFrames)
          var f = 0
          while (f < nFrames) {
            var k = 0; var e = 0L
            while (k < 4) {
              val u = u16le(b, (dataStart + 2 * (4 * f + k)).toInt)
              val s = if (u >= 0x8000) u - 0x10000 else u
              e += s.toLong * s
              k += 1
            }
            energy(f) = e
            f += 1
          }
          var fp = 0L
          val nBits = math.min(nFrames - 1, 32)
          var i = 0
          while (i < nBits) {
            if (energy(i + 1) > energy(i)) fp |= 1L << i
            i += 1
          }
          Some((rate, nFrames.toLong, fp))
        }
      case _ => None
    }

  /** The `fingerprintRow` result row. */
  val fingerprintRowType: StructType =
    row("sample_rate" -> IntegerType, "n_frames" -> LongType,
      "fp" -> LongType)

  /** [[fingerprint]] as an `InternalRow` for the
    * `audio_fp` codegen path. Null = not 16-bit
    * PCM, or too short to frame. */
  def fingerprintRow(b: Array[Byte]): InternalRow = fingerprint(b) match {
    case Some((rate, nf, fp)) => InternalRow(rate, nf, fp)
    case None => null
  }

  /** ITU-T G.711 µ-law expansion of one 8-bit code to its 16-bit
    * linear sample — the REAL decode of the first COMPANDED (lossy)
    * audio wire format in the engine: complement the code, split
    * sign / 3-bit segment / 4-bit mantissa, rebuild the biased
    * magnitude `((mant << 3) + 132) << seg`, strip the bias. Pure
    * integer arithmetic (the property the oracle replay exploits):
    * code 0x00 → -32124 (negative full scale), 0x80 → +32124,
    * 0xFF and 0x7F → 0 (positive and "negative" zero). */
  def ulawExpand(code: Int): Int = {
    val u = ~code & 0xff
    val t = (((u & 0x0f) << 3) + 132) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 132 - t else t - 132
  }

  /** Full-scale decoded magnitude of the µ-law codec (code 0x00 /
    * 0x80) — the clip threshold [[ulawLevels]] meters, the codec's
    * analog of PCM's ±32768/32767 rails. */
  val UlawFullScale = 32124

  /** REAL sample-payload decode for G.711 µ-law (WAVE format tag 7)
    * — the companded telephony codec, the first LOSSY audio payload
    * the engine expands rather than stubs: one code byte per value,
    * expanded by [[ulawExpand]], then metered exactly like
    * [[levels]] meters linear PCM:
    * (channels, sample_rate, n_values, sum_sq, peak_abs,
    * n_fullscale), where `sum_sq` is the exact integer energy of the
    * EXPANDED samples and `n_fullscale` counts values at the codec's
    * digital rails (|s| = [[UlawFullScale]] — µ-law's clip
    * indicator). None for non-µ-law payloads (linear PCM stays on
    * [[levels]]). */
  def ulawLevels(
      b: Array[Byte]): Option[(Int, Int, Long, Long, Int, Long)] =
    g711Levels(b, 7, ulawExpand, UlawFullScale)

  /** ITU-T G.711 A-law expansion of one 8-bit code to its 13-bit
    * linear sample (in 16-bit range) — the European telephony
    * sibling of [[ulawExpand]], a genuinely different arithmetic:
    * XOR the code with 0x55 (alternate-bit inversion, not full
    * complement), split sign / segment / mantissa, rebuild
    * `(mant << 4) + 8` in segment 0 (A-law is LINEAR near zero — no
    * bias, no zero code: the quietest samples are ±8) and
    * `((mant << 4) + 0x108) << (seg − 1)` above, and — the sign
    * convention that trips naive ports — the sign BIT SET means
    * POSITIVE. Code 0x55 → -8, 0xD5 → +8, 0x2A → -32256 (negative
    * full scale), 0xAA → +32256. */
  def alawExpand(code: Int): Int = {
    val u = code ^ 0x55
    val seg = (u >> 4) & 7
    val mant = u & 0x0f
    val t =
      if (seg == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (seg - 1)
    if ((u & 0x80) != 0) t else -t
  }

  /** Full-scale decoded magnitude of the A-law codec (code 0x2A /
    * 0xAA). */
  val AlawFullScale = 32256

  /** [[ulawLevels]]' A-law sibling (WAVE format tag 6): one code
    * byte per value through [[alawExpand]], same exact-integer
    * metering, rails at |s| = [[AlawFullScale]]. */
  def alawLevels(
      b: Array[Byte]): Option[(Int, Int, Long, Long, Int, Long)] =
    g711Levels(b, 6, alawExpand, AlawFullScale)

  /** Shared G.711 payload meter: expand each code byte of a
    * format-tag-`fmtTag` file with `expand` and meter the decoded
    * samples — (channels, sample_rate, n_values, sum_sq, peak_abs,
    * n_fullscale), with `n_fullscale` counting values at
    * ±`fullScale` (the codec's digital rails). None for any other
    * format tag. */
  private def g711Levels(b: Array[Byte], fmtTag: Int,
      expand: Int => Int,
      fullScale: Int): Option[(Int, Int, Long, Long, Int, Long)] =
    walkChunks(b).flatMap {
      case (`fmtTag`, ch, rate, _, _, dataStart, dataSize) =>
        val end = math.min(dataStart + dataSize, b.length.toLong)
        var p = dataStart
        var cnt = 0L
        var sumSq = 0L
        var peak = 0
        var rails = 0L
        while (p < end) {
          val s = expand(u8(b, p.toInt))
          sumSq += s.toLong * s
          val a = if (s < 0) -s else s
          if (a > peak) peak = a
          if (a == fullScale) rails += 1
          cnt += 1
          p += 1
        }
        Some((ch, rate, cnt, sumSq, peak, rails))
      case _ => None
    }

  /** The `ulawLevelsRow` result row. */
  val ulawLevelsRowType: StructType =
    row("channels" -> IntegerType, "sample_rate" -> IntegerType,
      "n_values" -> LongType, "sum_sq" -> LongType, "peak" -> IntegerType,
      "n_fullscale" -> LongType)

  /** [[ulawLevels]] as an `InternalRow` for the
    * `audio_ulaw_levels` codegen path. Null = not a
    * µ-law WAV. */
  def ulawLevelsRow(b: Array[Byte]): InternalRow = ulawLevels(b) match {
    case Some((ch, rate, nv, ssq, pk, fs)) =>
      InternalRow(ch, rate, nv, ssq, pk, fs)
    case None => null
  }

  /** The `alawLevelsRow` result row. */
  val alawLevelsRowType: StructType = ulawLevelsRowType

  /** [[alawLevels]] as an `InternalRow` for the
    * `audio_alaw_levels` codegen path. Null = not an
    * A-law WAV. */
  def alawLevelsRow(b: Array[Byte]): InternalRow = alawLevels(b) match {
    case Some((ch, rate, nv, ssq, pk, fs)) =>
      InternalRow(ch, rate, nv, ssq, pk, fs)
    case None => null
  }
}
