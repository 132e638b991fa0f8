package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}

import graft.functions.NativeFn.row

/** Luma-plane PNG decode + 64-bit difference-hash (dHash) — the
  * engine's REAL pixel-derived image fingerprint, closing the
  * stand-in-feature-vector gap declared in [[Multimodal]]: the
  * fingerprint is computed from decoded pixels through the same
  * Inflater/unfilter path as [[ImageHeaders.pngLevels]], not from a
  * payload hash.
  *
  * dHash (public technique — the difference hash popularized by the
  * pHash family; per-cell mean comparison as in Manku, Jain & Sarma,
  * "Detecting Near-Duplicates for Web Crawling", WWW 2007 for the
  * banded Hamming search that consumes it):
  *
  *  - box-partition the luma plane into a 9×8 cell grid: pixel
  *    (x, y) belongs to cell (i, j) with i = 9·x / w, j = 8·y / h
  *    (integer division — exactly the floor partition of [0, w) into
  *    9 contiguous runs, every cell non-empty when w ≥ 9, h ≥ 8);
  *  - per row j, compare horizontally adjacent cell MEANS without
  *    dividing: bit(i, j) = sum(i,j)·cnt(i+1,j) > sum(i+1,j)·cnt(i,j)
  *    (cross-multiplication keeps the math exact-integer, so the SQL
  *    oracle replay hash-matches with no rounding convention);
  *  - pack the 8×8 comparison bits at position j·8 + i, split into
  *    two non-negative 32-bit halves (rows 0–3 → `dh_hi`, rows 4–7 →
  *    `dh_lo`) so Hamming distance is
  *    `bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo)` in both
  *    Spark and DuckDB BIGINT arithmetic with no sign-bit edge.
  *
  * The hash is scale- and brightness-comparison based (only
  * neighbor ORDER matters), so re-encodes and mild level shifts of
  * the same picture collide — the property the near-dup lane
  * exploits. Reference anchor: the reference pipeline stores media
  * as opaque Omeka assets (SURVEY §1.2); fingerprinting is the
  * engine-ambition lane, not reference parity.
  *
  * Decode scope: color types 0 (gray) and 2 (truecolor) at bit
  * depth 8, interlace none — the payload shapes the fixture builders
  * emit. Luma: type 0 → the gray sample, type 2 → r+g+b (no /3:
  * dHash compares within one image, so any monotone per-pixel scale
  * is equivalent and the sum keeps integers exact). Other color
  * types return None (callers surface SQL null), matching the
  * loud-absence discipline of the other decode lanes.
  */
object ImageGrid {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && u8(b, 0) == 0x89 && u8(b, 1) == 'P' &&
      u8(b, 2) == 'N' && u8(b, 3) == 'G' && u8(b, 4) == 0x0d &&
      u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a

  /** Same single-image bound as [[ImageHeaders]]: decoding is
    * per-row work; a payload whose raw plane exceeds this is not a
    * fingerprinting candidate (the caller sees null, never an OOM). */
  private val MaxRaw = 64L * 1024 * 1024

  /** Decode a PNG (types 0/2, depth 8, non-interlaced) to a luma
    * grid. Returns (width, height, row-major luma). */
  def lumaGrid(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 33 || !isPng(b)) return None
    if (u32(b, 8) != 13L) return None
    if (!(u8(b, 12) == 'I' && u8(b, 13) == 'H' &&
        u8(b, 14) == 'D' && u8(b, 15) == 'R')) return None
    val w = u32(b, 16); val h = u32(b, 20)
    if (w < 1 || h < 1) return None
    val depth = u8(b, 24); val colorType = u8(b, 25)
    if (depth != 8 || (colorType != 0 && colorType != 2)) return None
    if (u8(b, 26) != 0 || u8(b, 27) != 0 || u8(b, 28) != 0) return None
    val bpp = if (colorType == 0) 1 else 3
    val rawLen = h * (1L + bpp * w)
    if (rawLen > MaxRaw) return None
    val idat = new java.io.ByteArrayOutputStream()
    var off = 8 + 25
    var done = false
    while (!done && off + 8 <= b.length) {
      val len = u32(b, off)
      if (len > b.length - off - 8) return None
      val t0 = u8(b, off + 4); val t1 = u8(b, off + 5)
      val t2 = u8(b, off + 6); val t3 = u8(b, off + 7)
      if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T')
        idat.write(b, off + 8, len.toInt)
      if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') done = true
      off += 8 + len.toInt + 4
    }
    val z = idat.toByteArray
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
    // PNG §9 reconstruction (filters 0–4), byte-wise with bpp as the
    // left-neighbor distance — the same walk as pngLevels, but the
    // sink is a pixel grid instead of channel sums
    val wi = w.toInt; val hi = h.toInt
    val stride = bpp * wi
    val prev = new Array[Int](stride)
    val cur = new Array[Int](stride)
    val luma = new Array[Int](wi * hi)
    var y = 0
    while (y < hi) {
      val base = y * (stride + 1)
      val ft = raw(base) & 0xff
      if (ft > 4) return None
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
        luma(y * wi + x / bpp) += recon
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    Some((wi, hi, luma))
  }

  /** 64-bit dHash over a luma grid (header scaladoc). Returns
    * (dh_hi, dh_lo) as two non-negative 32-bit halves; None when the
    * image is too small for every 9×8 cell to be non-empty. */
  def dhash64(w: Int, h: Int, luma: Array[Int]): Option[(Long, Long)] = {
    if (w < 9 || h < 8) return None
    val sum = new Array[Long](9 * 8)
    val cnt = new Array[Long](9 * 8)
    var y = 0
    while (y < h) {
      val j = 8 * y / h
      var x = 0
      while (x < w) {
        val i = 9 * x / w
        sum(j * 9 + i) += luma(y * w + x)
        cnt(j * 9 + i) += 1
        x += 1
      }
      y += 1
    }
    var hiB = 0L; var loB = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        val l = j * 9 + i; val r = l + 1
        if (sum(l) * cnt(r) > sum(r) * cnt(l)) {
          if (j < 4) hiB |= 1L << (j * 8 + i)
          else loB |= 1L << ((j - 4) * 8 + i)
        }
        i += 1
      }
      j += 1
    }
    Some((hiB, loB))
  }

  /** The `dhashRow` result row. */
  val dhashRowType: StructType =
    row("width" -> IntegerType, "height" -> IntegerType,
      "dh_hi" -> LongType, "dh_lo" -> LongType)

  /** Decode + fingerprint as an `InternalRow` for the
    * `dhash64` codegen path: null = undecodable
    * payload or an image too small to fingerprint. */
  def dhashRow(b: Array[Byte]): InternalRow = lumaGrid(b) match {
    case Some((w, h, luma)) => dhash64(w, h, luma) match {
      case Some((hiB, loB)) =>
        new GenericInternalRow(Array[Any](w, h, hiB, loB))
      case None => null
    }
    case None => null
  }

  /** Grid side of the REAL feature vector ([[cellGrid]]): 4×4 = 16
    * cells — fixed-width, so the output is `ArrayType`-compatible
    * with the similarity operators regardless of image size. */
  val FeatureGrid = 4

  /** Box-partition the luma plane into a [[FeatureGrid]]² cell grid
    * (same floor partition as the dHash 9×8 grid: pixel (x, y) → cell
    * (G·x / w, G·y / h), integer division) and return per-cell
    * (sum, count) — the exact-integer basis of the REAL pixel-derived
    * feature vector. Every cell is non-empty when w ≥ G and h ≥ G. */
  def cellGrid(w: Int, h: Int, luma: Array[Int])
      : Option[(Array[Long], Array[Long])] = {
    val g = FeatureGrid
    if (w < g || h < g) return None
    val sum = new Array[Long](g * g)
    val cnt = new Array[Long](g * g)
    var y = 0
    while (y < h) {
      val j = g * y / h
      var x = 0
      while (x < w) {
        val i = g * x / w
        sum(j * g + i) += luma(y * w + x)
        cnt(j * g + i) += 1
        x += 1
      }
      y += 1
    }
    Some((sum, cnt))
  }

  /** The `cellRows` result array. */
  val cellRowsType: ArrayType =
    ArrayType(row("cell_i" -> IntegerType, "cell_j" -> IntegerType,
      "lsum" -> LongType, "lcnt" -> LongType),
      containsNull = false)

  /** Decode + cell grid as Catalyst `ArrayData` of
    * `struct<cell_i:int, cell_j:int, lsum:bigint, lcnt:bigint>` rows
    * for the `luma_cells` codegen path: null =
    * undecodable payload or an image smaller than the grid. */
  def cellRows(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData =
    lumaGrid(b) match {
      case Some((w, h, luma)) => cellGrid(w, h, luma) match {
        case Some((sum, cnt)) =>
          val g = FeatureGrid
          val rows = new Array[Any](g * g)
          var k = 0
          while (k < g * g) {
            rows(k) = new GenericInternalRow(
              Array[Any](k % g, k / g, sum(k), cnt(k)))
            k += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
        case None => null
      }
      case None => null
    }
}
