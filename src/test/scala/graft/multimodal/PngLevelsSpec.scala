package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.NativeFunctions

/** Real PNG pixel decode ([[ImageHeaders.pngLevels]]): Inflater-based
  * IDAT decompression + §9 scanline un-filtering must reproduce
  * exact channel sums on REAL encoder output (ImageIO: dynamic
  * Huffman blocks, encoder-chosen filters, multiple IDAT chunks,
  * valid CRCs) and on hand-built streams exercising every filter
  * type; malformed payloads must fail fast, not hang or allocate. */
class PngLevelsSpec extends AnyFunSuite {

  private val sig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Chunk with a zero (unverified) CRC. */
  private def chunk(typ: String, data: Array[Byte]): Array[Byte] =
    be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++
      Array[Byte](0, 0, 0, 0)

  private def ihdr(w: Int, h: Int, colorType: Int = 2): Array[Byte] =
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0))

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(out)
    d.end()
    out.take(n)
  }

  private def imageIoPng(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def countIdat(b: Array[Byte]): Int = {
    var off = 8; var n = 0
    while (off + 8 <= b.length) {
      val len = ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
      if (new String(b, off + 4, 4, "US-ASCII") == "IDAT") n += 1
      off += 8 + len + 4
    }
    n
  }

  test("ImageIO round-trip: noisy 512x96 image (dynamic Huffman, " +
    "encoder-chosen filters, multiple IDAT chunks) decodes to exact " +
    "channel sums") {
    val (w, h) = (512, 96)
    // pseudo-random but deterministic pixels: poorly compressible →
    // the encoder emits a large stream split across IDAT chunks
    val rgb = (x: Int, y: Int) => {
      val v = (x * 2654435761L + y * 40503L) & 0xffffffffL
      (((v >> 16) & 0xff).toInt, ((v >> 8) & 0xff).toInt,
        (v & 0xff).toInt)
    }
    val b = imageIoPng(w, h, rgb)
    assert(countIdat(b) >= 2, s"want multi-IDAT, got ${countIdat(b)}")
    val px = for (y <- 0 until h; x <- 0 until w) yield rgb(x, y)
    val got = ImageHeaders.pngLevels(b)
    assert(got.contains((w, h, w.toLong * h,
      px.map(_._1.toLong).sum, px.map(_._2.toLong).sum,
      px.map(_._3.toLong).sum)))
  }

  test("every filter type 1-4 un-filters correctly (hand-built " +
    "streams, real Deflater compression)") {
    val (w, h) = (5, 4)
    val stride = 3 * w
    def recon(x: Int, y: Int, c: Int): Int = (x * 50 + y * 33 + c * 71) % 256
    for (ft <- 1 to 4) {
      // forward-filter the known recon bytes with type ft
      val raw = new Array[Byte](h * (stride + 1))
      val rows = Array.tabulate(h, stride)((y, i) => recon(i / 3, y, i % 3))
      for (y <- 0 until h) {
        raw(y * (stride + 1)) = ft.toByte
        for (i <- 0 until stride) {
          val cur = rows(y)(i)
          val a = if (i >= 3) rows(y)(i - 3) else 0
          val up = if (y > 0) rows(y - 1)(i) else 0
          val cc = if (i >= 3 && y > 0) rows(y - 1)(i - 3) else 0
          val pred = ft match {
            case 1 => a
            case 2 => up
            case 3 => (a + up) >> 1
            case 4 =>
              val p = a + up - cc
              val pa = math.abs(p - a); val pb = math.abs(p - up)
              val pc = math.abs(p - cc)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) up else cc
          }
          raw(y * (stride + 1) + 1 + i) = ((cur - pred) & 0xff).toByte
        }
      }
      val png = sig ++ ihdr(w, h) ++ chunk("IDAT", zlib(raw)) ++
        chunk("IEND", Array.empty)
      val exp = for (y <- 0 until h; x <- 0 until w)
        yield (recon(x, y, 0), recon(x, y, 1), recon(x, y, 2))
      assert(ImageHeaders.pngLevels(png).contains((w, h, w.toLong * h,
        exp.map(_._1.toLong).sum, exp.map(_._2.toLong).sum,
        exp.map(_._3.toLong).sum)), s"filter type $ft")
    }
  }

  test("malformed payloads fail fast: huge declared dims, wrong " +
    "color type, truncated stream, junk") {
    // 2^15 x 2^15 RGB = 3 GiB raw — must reject on the size cap
    // instantly, never allocate
    val huge = sig ++ ihdr(1 << 15, 1 << 15) ++
      chunk("IDAT", zlib(Array[Byte](0, 1, 2, 3))) ++
      chunk("IEND", Array.empty)
    val t0 = System.nanoTime()
    assert(ImageHeaders.pngLevels(huge).isEmpty)
    assert((System.nanoTime() - t0) / 1e6 < 1000.0)
    // still out of scope → None: 16-bit PALETTE (illegal per spec —
    // palette entries are 8-bit), packed sub-byte depths, and an
    // invalid interlace method
    val ihdr16Pal = chunk("IHDR", be32(2) ++ be32(2) ++
      Array[Byte](16, 3, 0, 0, 0))
    assert(ImageHeaders.pngLevels(
      sig ++ ihdr16Pal ++ chunk("PLTE", Array[Byte](1, 2, 3)) ++
        chunk("IDAT", zlib(new Array[Byte](2 * 5))) ++
        chunk("IEND", Array.empty)).isEmpty)
    val ihdr4bit = chunk("IHDR", be32(2) ++ be32(2) ++
      Array[Byte](4, 0, 0, 0, 0))
    assert(ImageHeaders.pngLevels(
      sig ++ ihdr4bit ++ chunk("IDAT", zlib(new Array[Byte](2 * 2))) ++
        chunk("IEND", Array.empty)).isEmpty)
    val ihdrBadInterlace = chunk("IHDR", be32(2) ++ be32(2) ++
      Array[Byte](8, 2, 0, 0, 2))
    assert(ImageHeaders.pngLevels(
      sig ++ ihdrBadInterlace ++
        chunk("IDAT", zlib(new Array[Byte](2 * 7))) ++
        chunk("IEND", Array.empty)).isEmpty)
    // palette type without a PLTE chunk is corrupt → None
    assert(ImageHeaders.pngLevels(
      sig ++ ihdr(2, 2, colorType = 3) ++
        chunk("IDAT", zlib(new Array[Byte](2 * 3))) ++
        chunk("IEND", Array.empty)).isEmpty)
    // palette index past the PLTE end is corrupt → None
    val idxRaw = Array[Byte](0, 5, 5, 0, 5, 5) // indices 5 > 2 entries
    assert(ImageHeaders.pngLevels(
      sig ++ ihdr(2, 2, colorType = 3) ++
        chunk("PLTE", Array[Byte](1, 2, 3, 4, 5, 6)) ++
        chunk("IDAT", zlib(idxRaw)) ++
        chunk("IEND", Array.empty)).isEmpty)
    // truncated zlib stream: inflates short → None
    val okRaw = new Array[Byte](2 * (1 + 6))
    val z = zlib(okRaw)
    assert(ImageHeaders.pngLevels(
      sig ++ ihdr(2, 2) ++ chunk("IDAT", z.take(z.length / 2)) ++
        chunk("IEND", Array.empty)).isEmpty)
    assert(ImageHeaders.pngLevels("not a png at all".getBytes).isEmpty)
    assert(ImageHeaders.pngLevels(null).isEmpty)
    // the intact control decodes (all-zero pixels)
    assert(ImageHeaders.pngLevels(
      sig ++ ihdr(2, 2) ++ chunk("IDAT", z) ++
        chunk("IEND", Array.empty)).contains((2, 2, 4L, 0L, 0L, 0L)))
  }

  test("color types 0/3/6 round-trip through real encoders: " +
    "grayscale + palette + RGBA (alpha filtered, never summed)") {
    // grayscale (type 0): raster samples are the gray bytes, summed
    // into all three channels
    val (gw, gh) = (33, 21)
    val gimg = new BufferedImage(gw, gh, BufferedImage.TYPE_BYTE_GRAY)
    var gsum = 0L
    for (y <- 0 until gh; x <- 0 until gw) {
      val v = (x * 37 + y * 91) % 256
      gimg.getRaster.setSample(x, y, 0, v)
      gsum += v
    }
    val gout = new ByteArrayOutputStream()
    ImageIO.write(gimg, "png", gout)
    val gb = gout.toByteArray
    assert((gb(25) & 0xff) == 0, "want color type 0")
    assert(ImageHeaders.pngLevels(gb)
      .contains((gw, gh, gw.toLong * gh, gsum, gsum, gsum)))

    // palette (type 3): indices resolve through the PLTE; expected
    // sums come from the IndexColorModel's own palette entries.
    // > 16 entries, or ImageIO writes a sub-8-bit depth (out of the
    // decoder's 8-bit scope)
    val pal = Array.tabulate(32)(i =>
      ((i * 37 % 256) << 16) | ((i * 91 % 256) << 8) | (i * 13 % 256))
    val icm = new java.awt.image.IndexColorModel(8, pal.length,
      pal.map(p => ((p >> 16) & 0xff).toByte),
      pal.map(p => ((p >> 8) & 0xff).toByte),
      pal.map(p => (p & 0xff).toByte))
    val (pw, ph) = (17, 9)
    val pimg = new BufferedImage(pw, ph,
      BufferedImage.TYPE_BYTE_INDEXED, icm)
    var (psr, psg, psb) = (0L, 0L, 0L)
    for (y <- 0 until ph; x <- 0 until pw) {
      val idx = (x + y * 3) % pal.length
      pimg.getRaster.setSample(x, y, 0, idx)
      psr += (pal(idx) >> 16) & 0xff
      psg += (pal(idx) >> 8) & 0xff
      psb += pal(idx) & 0xff
    }
    val pout = new ByteArrayOutputStream()
    ImageIO.write(pimg, "png", pout)
    val pb = pout.toByteArray
    assert((pb(24) & 0xff) == 8 && (pb(25) & 0xff) == 3,
      s"want 8-bit color type 3, got depth ${pb(24)} type ${pb(25)}")
    assert(ImageHeaders.pngLevels(pb)
      .contains((pw, ph, pw.toLong * ph, psr, psg, psb)))

    // RGBA (type 6): varying alpha participates in un-filtering but
    // must be excluded from the channel sums
    val (aw, ah) = (29, 13)
    val aimg = new BufferedImage(aw, ah, BufferedImage.TYPE_INT_ARGB)
    var (asr, asg, asb) = (0L, 0L, 0L)
    for (y <- 0 until ah; x <- 0 until aw) {
      val (r, g, b) = ((x * 23) % 256, (y * 57) % 256, (x + y * 7) % 256)
      val a = (x * y * 13) % 256
      aimg.setRGB(x, y, (a << 24) | (r << 16) | (g << 8) | b)
      asr += r; asg += g; asb += b
    }
    val aout = new ByteArrayOutputStream()
    ImageIO.write(aimg, "png", aout)
    val ab = aout.toByteArray
    assert((ab(25) & 0xff) == 6, "want color type 6")
    assert(ImageHeaders.pngLevels(ab)
      .contains((aw, ah, aw.toLong * ah, asr, asg, asb)))
  }

  test("gray+alpha (type 4, hand-built: no standard encoder shape) " +
    "sums the gray sample into all channels") {
    val (w, h) = (6, 5)
    val raw = new Array[Byte](h * (1 + 2 * w))
    var gsum = 0L
    for (y <- 0 until h) {
      raw(y * (1 + 2 * w)) = 0 // filter none
      for (x <- 0 until w) {
        val g = (x * 44 + y * 17) % 256
        val a = (x + y * 5) % 256
        raw(y * (1 + 2 * w) + 1 + 2 * x) = g.toByte
        raw(y * (1 + 2 * w) + 1 + 2 * x + 1) = a.toByte
        gsum += g
      }
    }
    val png = sig ++ ihdr(w, h, colorType = 4) ++
      chunk("IDAT", zlib(raw)) ++ chunk("IEND", Array.empty)
    assert(ImageHeaders.pngLevels(png)
      .contains((w, h, w.toLong * h, gsum, gsum, gsum)))
  }

  private def ihdr16(w: Int, h: Int, colorType: Int,
      interlace: Int = 0): Array[Byte] =
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](16, colorType.toByte, 0, 0, interlace.toByte))

  test("16-bit grayscale via ImageIO (TYPE_USHORT_GRAY, real encoder) " +
    "sums full 0-65535 sample values into all channels") {
    val (w, h) = (9, 7)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    var gsum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 9371 + y * 25013) % 65536
      img.getRaster.setSample(x, y, 0, v)
      gsum += v
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    val b = out.toByteArray
    assert((b(24) & 0xff) == 16, "ImageIO did not write bit depth 16")
    assert(ImageHeaders.pngLevels(b)
      .contains((w, h, w.toLong * h, gsum, gsum, gsum)))
  }

  test("16-bit truecolor (hand-built, real Deflater) pairs bytes " +
    "big-endian and keeps the 6-byte filter distance") {
    val (w, h) = (4, 3)
    val stride = 6 * w
    val raw = new Array[Byte](h * (1 + stride))
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h) {
      raw(y * (1 + stride)) = 0 // filter none
      for (x <- 0 until w; c <- 0 until 3) {
        val v = (x * 12289 + y * 30011 + c * 7151) % 65536
        raw(y * (1 + stride) + 1 + 6 * x + 2 * c) = ((v >> 8) & 0xff).toByte
        raw(y * (1 + stride) + 1 + 6 * x + 2 * c + 1) = (v & 0xff).toByte
        c match {
          case 0 => sr += v
          case 1 => sg += v
          case 2 => sb += v
        }
      }
    }
    val png = sig ++ ihdr16(w, h, colorType = 2) ++
      chunk("IDAT", zlib(raw)) ++ chunk("IEND", Array.empty)
    assert(ImageHeaders.pngLevels(png)
      .contains((w, h, w.toLong * h, sr, sg, sb)))
  }

  /** Hand-built Adam7 grayscale stream from an explicit pass-dims
    * list: each pass's rows carry filter 0 + value bytes indexed by
    * stream position. */
  private def adam7Gray(w: Int, h: Int, passes: Seq[(Int, Int)],
      v: Int => Int): (Array[Byte], Long, Long) = {
    val out = new ByteArrayOutputStream()
    var j = 0
    passes.foreach { case (pw, ph) =>
      for (_ <- 0 until ph) {
        out.write(0) // filter none
        for (_ <- 0 until pw) { out.write(v(j) & 0xff); j += 1 }
      }
    }
    val raw = out.toByteArray
    val gsum = (0 until j).map(i => (v(i) & 0xff).toLong).sum
    val png = sig ++
      chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 1)) ++
      chunk("IDAT", zlib(raw)) ++ chunk("IEND", Array.empty)
    (png, j.toLong, gsum)
  }

  test("Adam7 8x8 grayscale: seven passes decode with independent " +
    "filter contexts and sum across passes") {
    val passes = Seq((1, 1), (1, 1), (2, 1), (2, 2), (4, 2), (4, 4), (8, 4))
    val (png, npx, gsum) = adam7Gray(8, 8, passes, j => (j * 17 + 3) % 256)
    assert(npx == 64)
    assert(ImageHeaders.pngLevels(png)
      .contains((8, 8, 64L, gsum, gsum, gsum)))
  }

  test("Adam7 on non-multiple-of-8 dims (5x3): empty pass dropped, " +
    "partial passes sized per spec") {
    // pass dims for 5x3: p1 1x1, p2 1x1, p3 empty, p4 1x1, p5 3x1,
    // p6 2x2, p7 5x1 -> 15 pixels
    val passes = Seq((1, 1), (1, 1), (1, 1), (3, 1), (2, 2), (5, 1))
    val (png, npx, gsum) = adam7Gray(5, 3, passes, j => (j * 41 + 7) % 256)
    assert(npx == 15)
    assert(ImageHeaders.pngLevels(png)
      .contains((5, 3, 15L, gsum, gsum, gsum)))
  }

  test("png_levels expression + SQL registration agree with the " +
    "plain-Scala decoder") {
    val s = TestSpark.spark
    import s.implicits._
    val b = imageIoPng(7, 5, (x, y) => (x * 30, y * 40, (x + y) * 20))
    val exp = ImageHeaders.pngLevels(b).get
    val df = Seq(Tuple1(b)).toDF("payload")
    val viaExpr = df.select(
      NativeFunctions.pngLevels(col("payload")).as("m"))
      .selectExpr("m.width", "m.height", "m.n_px",
        "m.sum_r", "m.sum_g", "m.sum_b").collect()(0)
    val viaSql = df.selectExpr("png_levels(payload) AS m")
      .selectExpr("m.width", "m.height", "m.n_px",
        "m.sum_r", "m.sum_g", "m.sum_b").collect()(0)
    for (row <- Seq(viaExpr, viaSql))
      assert((row.getInt(0), row.getInt(1), row.getLong(2),
        row.getLong(3), row.getLong(4), row.getLong(5)) == exp)
  }
}
