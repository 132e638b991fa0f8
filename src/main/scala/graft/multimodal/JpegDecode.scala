package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.functions.NativeFn.row

/** REAL baseline-JPEG pixel decode — no codec library. The one
  * multimodal lane previously declared a stub (lossy-codec payload
  * decode): JPEG's entropy layer is canonical Huffman over
  * run-length-coded DCT coefficients, and everything below it is
  * integer/float arithmetic — all implementable on the public JDK.
  *
  * Scope: BASELINE SEQUENTIAL (SOF0), 8-bit precision, grayscale or
  * YCbCr with any 1–2 × 1–2 sampling factors, interleaved single
  * scan, optional restart intervals (DRI/RSTn with DC-predictor
  * reset + byte realignment), multi-segment DQT/DHT, 0xFF00 byte
  * unstuffing. Progressive (SOF2), arithmetic coding, 12-bit
  * precision and hierarchical modes return None.
  *
  * Output is the LUMA plane summary `(width, height, n_px, sum_y)`:
  * chroma blocks are entropy-decoded (the bitstream can't be
  * advanced otherwise) but never reconstructed — the curation
  * signal (brightness levels / feature pre-pass) needs Y only, and
  * skipping two IDCTs per MCU is the point of a luma-only pass.
  *
  * IDCT: separable double-precision cosine transform with final
  * round-half-up + clamp. For DC-only blocks (the oracle fixture's
  * shape) the reconstruction is EXACT — a flat block at
  * `round(DC·q/8) + 128` — independent of IDCT implementation, so
  * the SQL oracle replays it arithmetically; fidelity on real
  * encoder output (entropy-coded AC, libjpeg's integer IDCT) is
  * measured against ImageIO in JpegDecodeSpec with a ±1-mean
  * tolerance, not claimed exact.
  */
object JpegDecode {

  private final class Bits(b: Array[Byte], var pos: Int) {
    var bitBuf = 0
    var bitCnt = 0
    var truncated = false

    /** Next entropy byte with FF00 unstuffing; FFxx (a marker) ends
      * the entropy segment — callers see run-out as truncation
      * unless the marker is an expected RST. */
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= b.length) { truncated = true; return 0 }
        var v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) { truncated = true; return 0 }
          val m = b(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed FF
          else { truncated = true; v = 0 } // marker: entropy over
        }
        bitBuf = v
        bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }

    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }

    /** Skip to the byte boundary and consume an expected RST
      * marker; false when the stream has something else. */
    def restart(): Boolean = {
      bitCnt = 0
      if (pos + 1 >= b.length) return false
      if ((b(pos) & 0xff) != 0xff) return false
      val m = b(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) return false
      pos += 2
      true
    }
  }

  /** Canonical Huffman table: JPEG's (counts-per-length, symbols)
    * spelling decoded bit-by-bit (≤ 16 steps). */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    // mincode/maxcode/valptr per length (JPEG F.2.2.3)
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = code - 1
        if (counts(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def decode(in: Bits): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        code = (code << 1) | in.nextBit()
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return symbols(valPtr(l) + (code - minCode(l)))
        l += 1
      }
      -1
    }
  }

  /** Signed value from `n` additional bits (JPEG F.12 EXTEND). */
  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0
    else if (v < (1 << (n - 1))) v - (1 << n) + 1
    else v

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    var i = 0
    while (i < 8) {
      var x = 0
      while (x < 8) {
        t(i * 8 + x) = math.cos((2 * x + 1) * i * math.Pi / 16.0)
        x += 1
      }
      i += 1
    }
    t
  }

  /** Separable 2-D IDCT + level shift + clamp into `out` (row-major
    * 8×8). Exact for DC-only blocks (flat at round(F00/8) + 128). */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows over u
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) 0.70710678118654752 else 1.0
          s += cu * coef(y * 8 + u) * CosTab(u * 8 + x)
          u += 1
        }
        tmp(y * 8 + x) = s / 2.0
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) 0.70710678118654752 else 1.0
          s += cv * tmp(v * 8 + x) * CosTab(v * 8 + yy)
          v += 1
        }
        val px = math.floor(s / 2.0 + 128.5).toInt
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  private def u16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** Decode the luma plane summary of a baseline JPEG; None when not
    * a decodable baseline stream. */
  def lumaLevels(b: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    if (b == null || b.length < 4) return None
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val quant = Array.ofDim[Int](4, 64)
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var w = 0; var h = 0
    var nComp = 0
    var compId: Array[Int] = null
    var compH: Array[Int] = null
    var compV: Array[Int] = null
    var compQ: Array[Int] = null
    var restartInterval = 0
    var off = 2
    var sosAt = -1
    var scanDc: Array[Int] = null
    var scanAc: Array[Int] = null
    var scanOrder: Array[Int] = null
    while (sosAt < 0) {
      if (off + 4 > b.length) return None
      if ((b(off) & 0xff) != 0xff) return None
      val marker = b(off + 1) & 0xff
      if (marker == 0xd9) return None // EOI before SOS
      val len = u16(b, off + 2)
      if (len < 2 || off + 2 + len > b.length) return None
      val seg = off + 4
      val segEnd = off + 2 + len
      marker match {
        case 0xdb => // DQT: multiple tables per segment
          var p = seg
          while (p < segEnd) {
            val pq = (b(p) & 0xff) >> 4
            val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3) return None // 8-bit tables only
            if (p + 65 > segEnd) return None
            var i = 0
            while (i < 64) {
              quant(tq)(ZigZag(i)) = b(p + 1 + i) & 0xff
              i += 1
            }
            p += 65
          }
        case 0xc4 => // DHT: multiple tables per segment
          var p = seg
          while (p < segEnd) {
            val tc = (b(p) & 0xff) >> 4
            val th = b(p) & 0x0f
            if (tc > 1 || th > 3) return None
            if (p + 17 > segEnd) return None
            val counts = new Array[Int](16)
            var n = 0
            var i = 0
            while (i < 16) {
              counts(i) = b(p + 1 + i) & 0xff; n += counts(i); i += 1
            }
            if (p + 17 + n > segEnd) return None
            val syms = new Array[Int](n)
            i = 0
            while (i < n) { syms(i) = b(p + 17 + i) & 0xff; i += 1 }
            val tab = new Huff(counts, syms)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            p += 17 + n
          }
        case 0xc0 => // SOF0 baseline
          if (b(seg) != 8) return None // precision
          h = u16(b, seg + 1); w = u16(b, seg + 3)
          nComp = b(seg + 5) & 0xff
          if (w < 1 || h < 1 || (nComp != 1 && nComp != 3)) return None
          if (w.toLong * h > (1L << 26)) return None // size cap
          compId = new Array[Int](nComp)
          compH = new Array[Int](nComp)
          compV = new Array[Int](nComp)
          compQ = new Array[Int](nComp)
          var i = 0
          while (i < nComp) {
            compId(i) = b(seg + 6 + 3 * i) & 0xff
            val hv = b(seg + 7 + 3 * i) & 0xff
            compH(i) = hv >> 4; compV(i) = hv & 0x0f
            if (compH(i) < 1 || compH(i) > 2 ||
                compV(i) < 1 || compV(i) > 2) return None
            compQ(i) = b(seg + 8 + 3 * i) & 0xff
            i += 1
          }
        case 0xc2 => return None // progressive: out of scope
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
            0xcd | 0xce | 0xcf => return None // non-baseline SOF
        case 0xdd => restartInterval = u16(b, seg)
        case 0xda => // SOS
          if (compId == null) return None
          val ns = b(seg) & 0xff
          if (ns != nComp) return None // interleaved single scan only
          scanDc = new Array[Int](nComp)
          scanAc = new Array[Int](nComp)
          scanOrder = new Array[Int](nComp)
          var i = 0
          while (i < ns) {
            val cid = b(seg + 1 + 2 * i) & 0xff
            val idx = compId.indexOf(cid)
            if (idx < 0) return None
            scanOrder(i) = idx
            val tt = b(seg + 2 + 2 * i) & 0xff
            scanDc(idx) = tt >> 4; scanAc(idx) = tt & 0x0f
            i += 1
          }
          sosAt = segEnd
        case _ => () // APPn/COM/etc: skip
      }
      off = segEnd
    }
    // MCU geometry
    val hMax = compH.max; val vMax = compV.max
    val mcuW = 8 * hMax; val mcuH = 8 * vMax
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    // Y plane (component 0), padded to whole MCUs
    val yW = mcusX * compH(0) * 8
    val yPlane = new Array[Byte](yW * mcusY * compV(0) * 8)
    val in = new Bits(b, sosAt)
    val dcPred = new Array[Int](nComp)
    val coef = new Array[Int](64)
    val px = new Array[Int](64)
    var mcu = 0
    val nMcu = mcusX * mcusY
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!in.restart()) return None
        java.util.Arrays.fill(dcPred, 0)
      }
      var s = 0
      while (s < nComp) {
        val c = scanOrder(s)
        val dt = dcTabs(scanDc(c)); val at = acTabs(scanAc(c))
        if (dt == null || at == null) return None
        val q = quant(compQ(c))
        var by = 0
        while (by < compV(c)) {
          var bx = 0
          while (bx < compH(c)) {
            java.util.Arrays.fill(coef, 0)
            val t = dt.decode(in)
            if (t < 0 || t > 11 || in.truncated) return None
            dcPred(c) += extend(in.receive(t), t)
            coef(0) = dcPred(c) * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = at.decode(in)
              if (rs < 0 || in.truncated) return None
              val r = rs >> 4; val sz = rs & 0x0f
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                if (k > 63) return None
                coef(ZigZag(k)) = extend(in.receive(sz), sz) * q(ZigZag(k))
                k += 1
              }
            }
            if (c == 0) { // luma: reconstruct into the Y plane
              idct(coef, px)
              val ox = (mcu % mcusX) * compH(0) * 8 + bx * 8
              val oy = (mcu / mcusX) * compV(0) * 8 + by * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  yPlane((oy + yy) * yW + ox + xx) =
                    px(yy * 8 + xx).toByte
                  xx += 1
                }
                yy += 1
              }
            }
            bx += 1
          }
          by += 1
        }
        s += 1
      }
      mcu += 1
    }
    if (in.truncated) return None // ran past the entropy segment
    // luma sum over the REAL image extent (MCU padding excluded);
    // Y's own sampling grid: the plane holds w·compH(0)/hMax columns
    // of real data per image row — for the common cases (gray 1×1,
    // 4:2:0/4:2:2/4:4:4 with Y at hMax/vMax) Y is full-resolution,
    // so the extent is exactly w×h
    if (compH(0) != hMax || compV(0) != vMax) return None
    var sum = 0L
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        sum += yPlane(yy * yW + xx) & 0xff
        xx += 1
      }
      yy += 1
    }
    Some((w, h, w.toLong * h, sum))
  }

  /** The `lumaLevelsRow` result row. */
  val lumaLevelsRowType: StructType =
    row("width" -> IntegerType, "height" -> IntegerType, "n_px" -> LongType,
      "sum_y" -> LongType)

  /** [[lumaLevels]] as an `InternalRow` for the codegen path. */
  def lumaLevelsRow(b: Array[Byte]): InternalRow = lumaLevels(b) match {
    case Some((w, h, n, s)) => InternalRow(w, h, n, s)
    case None => null
  }
}
