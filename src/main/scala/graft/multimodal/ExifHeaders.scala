package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.functions.NativeFn.row

/** Real EXIF orientation decode from JPEG APP1 — the metadata every
  * photo pipeline must honor before any pixel work (a portrait shot
  * stored landscape-with-orientation-6 resizes to the WRONG aspect
  * if the tag is ignored). Pure byte arithmetic like the rest of the
  * header family; notable because one file mixes BOTH endian
  * disciplines: the JPEG segment walk is big-endian by spec, while
  * the embedded TIFF structure inside APP1 declares its own byte
  * order in-band ("II" little / "MM" big) — the same dual-order walk
  * [[ImageHeaders]] does for standalone TIFF, here nested inside a
  * BE container.
  *
  * Layout walked: SOI, then marker segments. An APP1 whose payload
  * starts "Exif\0\0" embeds a TIFF file; IFD0's tag 0x0112 (SHORT,
  * count 1, value inline in the leading 2 bytes of the value field,
  * in the TIFF's OWN byte order) is the orientation, legal values
  * 1–8. Dimensions come from the SOFn frame header exactly as in
  * [[ImageHeaders]]. A JPEG with no EXIF orientation defaults to 1
  * (top-left, the spec default) — absence is not an error; a
  * PRESENT tag outside 1–8 fails closed.
  */
object ExifHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def u16le(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def u32be(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def u32le(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** Orientation from the TIFF structure at [start, start+len):
    * Some(1..8) when tag 0x0112 is present and legal, Some(1) for a
    * well-formed TIFF without the tag, None on malformed structure
    * or an out-of-range value. */
  private def tiffOrientation(b: Array[Byte], start: Int,
      len: Int): Option[Int] = {
    if (len < 8) return None
    val le =
      if (u8(b, start) == 'I' && u8(b, start + 1) == 'I') true
      else if (u8(b, start) == 'M' && u8(b, start + 1) == 'M') false
      else return None
    def rd16(i: Int): Int =
      if (le) u16le(b, start + i) else u16(b, start + i)
    def rd32(i: Int): Long =
      if (le) u32le(b, start + i) else u32be(b, start + i)
    if (rd16(2) != 42) return None
    val ifd = rd32(4)
    if (ifd < 8 || ifd + 2 > len) return None
    val n = rd16(ifd.toInt)
    if (ifd + 2 + 12L * n > len) return None
    var k = 0
    while (k < n) {
      val e = ifd.toInt + 2 + 12 * k
      if (rd16(e) == 0x0112) {
        if (rd16(e + 2) != 3 || rd32(e + 4) != 1L) return None
        val v = rd16(e + 8) // SHORT inline, TIFF's own byte order
        return if (v >= 1 && v <= 8) Some(v) else None
      }
      k += 1
    }
    Some(1) // well-formed EXIF without the tag: spec default
  }

  /** (width, height, orientation) of a JPEG, honoring APP1/EXIF;
    * None when the JPEG walk or a PRESENT EXIF block is malformed. */
  def parse(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b == null || b.length < 4) return None
    if (u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    val n = b.length
    var orient = 1
    var sawExif = false
    var i = 2
    while (i + 1 < n) {
      if (u8(b, i) != 0xff) return None // lost marker sync
      var j = i
      while (j + 1 < n && u8(b, j + 1) == 0xff) j += 1 // fill bytes
      if (j + 1 >= n) return None
      val marker = u8(b, j + 1)
      i = j + 2
      marker match {
        case 0xd8 | 0x01 => // SOI / TEM: standalone
        case m if m >= 0xd0 && m <= 0xd7 => // RSTn: standalone
        case 0xd9 => return None // EOI before any SOF
        case 0xda => return None // SOS before any SOF
        case m if (m >= 0xc0 && m <= 0xcf) &&
            m != 0xc4 && m != 0xc8 && m != 0xcc => // SOFn
          if (i + 6 >= n) return None
          val h = u16(b, i + 3); val w = u16(b, i + 5)
          return if (w < 1 || h < 1) None else Some((w, h, orient))
        case _ =>
          if (i + 1 >= n) return None
          val len = u16(b, i)
          if (len < 2 || i + len > n) return None
          if (marker == 0xe1 && !sawExif && len >= 8 &&
            u8(b, i + 2) == 'E' && u8(b, i + 3) == 'x' &&
            u8(b, i + 4) == 'i' && u8(b, i + 5) == 'f' &&
            u8(b, i + 6) == 0 && u8(b, i + 7) == 0) {
            // first Exif APP1 wins (later ones are XMP or dupes)
            tiffOrientation(b, i + 8, len - 8) match {
              case Some(v) => orient = v; sawExif = true
              case None => return None // present but malformed
            }
          }
          i += len
      }
    }
    None
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("width" -> IntegerType, "height" -> IntegerType,
      "orientation" -> IntegerType)

  /** [[parse]] as an `InternalRow` for the
    * `exif_meta` codegen path. Null = not a
    * parseable JPEG, or a malformed EXIF block. */
  def parseRow(b: Array[Byte]): InternalRow = parse(b) match {
    case Some((w, h, o)) => InternalRow(w, h, o)
    case None => null
  }
}
