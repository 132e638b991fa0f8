package graft.multimodal

/** Engine-portable SQL fragments that BUILD real PNG/JPEG byte
  * streams as uppercase hex text (one `unhex`/`from_hex` from a
  * genuine binary payload). Used by the `mm_image_dims` fixture: the
  * Spark query materializes the blob and parses it with the native
  * `image_dims` expression; the DuckDB oracle
  * round-trips the same hex through a real BLOB (`hex(from_hex(..))`)
  * and extracts the header fields independently by offset arithmetic.
  * Every fragment is plain ANSI-ish text parameterized only by the
  * integer-division spelling (`div` on Spark, `//` on DuckDB).
  */
object ImageHex {

  /** n-digit uppercase big-endian hex of non-negative integer SQL
    * expression `e`. */
  def hexN(e: String, n: Int, intdiv: String): String =
    (1 to n).map { j =>
      val p = 1L << (4 * (n - j))
      s"substring('0123456789ABCDEF', CAST((($e) $intdiv $p) % 16 AS INT) + 1, 1)"
    }.mkString("concat(", ", ", ")")

  /** Integer from the n uppercase hex digits at 1-based `pos` of hex
    * string expression `hs` (`posFn`: Spark "instr" / DuckDB
    * "strpos"). */
  def unhexN(hs: String, pos: Int, n: Int, posFn: String): String =
    (0 until n).map { j =>
      val p = 1L << (4 * (n - 1 - j))
      s"CAST($posFn('0123456789ABCDEF', substring($hs, ${pos + j}, 1)) - 1 AS BIGINT) * $p"
    }.mkString("(", " + ", ")")

  /** n-byte LITTLE-endian hex of non-negative integer expression
    * `e` (byte j = (e / 256^j) % 256). */
  def leHexN(e: String, nBytes: Int, intdiv: String): String =
    (0 until nBytes).map { j =>
      hexN(s"((($e) $intdiv ${1L << (8 * j)}) % 256)", 2, intdiv)
    }.mkString("concat(", ", ", ")")

  /** Minimal complete WebP `VP8 ` (lossy) file — RIFF header, chunk
    * header, zero frame tag, the 9D 01 2A sync code, LE 14-bit dims
    * (scale bits zero). Width bytes 26–27 → hex pos 53; height
    * 28–29 → 57. 30 bytes. */
  def webpVp8Hex(w: String, h: String, intdiv: String): String =
    s"concat('52494646', '16000000', '57454250', '56503820', " +
      s"'0A000000', '000000', '9D012A', " +
      s"${leHexN(w, 2, intdiv)}, ${leHexN(h, 2, intdiv)})"

  /** Minimal complete WebP `VP8X` (extended) file — flags/reserved
    * zeros, canvas dims-minus-one as 24-bit LE. Width bytes 24–26 →
    * hex pos 49; height 27–29 → 55. 30 bytes. */
  def webpVp8xHex(w: String, h: String, intdiv: String): String =
    s"concat('52494646', '16000000', '57454250', '56503858', " +
      s"'0A000000', '00000000', " +
      s"${leHexN(s"($w) - 1", 3, intdiv)}, ${leHexN(s"($h) - 1", 3, intdiv)})"

  /** A minimal COMPLETE GIF89a file: signature, little-endian
    * logical-screen dims, zeroed packed/background/aspect bytes,
    * trailer — 14 bytes. LE byte layout (unlike PNG): width lo/hi at
    * bytes 6–7 → hex positions 13/15, height at 8–9 → 17/19. */
  /** n-byte LITTLE-endian integer read at 1-based hex `pos` — the
    * read twin of [[leHexN]]. */
  def leUnhexN(hs: String, pos: Int, nBytes: Int,
      posFn: String): String =
    (0 until nBytes).map { j =>
      s"${unhexN(hs, pos + 2 * j, 2, posFn)} * ${1L << (8 * j)}"
    }.mkString("(", " + ", ")")

  /** A minimal complete TIFF: 8-byte header (byte-order mark, magic
    * 42, IFD offset 8) + one 2-entry IFD — ImageWidth (tag 256) as a
    * LONG filling its value field, ImageLength (tag 257) as a SHORT
    * inline in the LEADING two bytes (the placement rule that
    * depends on byte order), zero next-IFD pointer. 38 bytes. Width
    * value at byte 18, height at byte 30. Little-endian ('II')
    * spelling. */
  def tiffHexLE(w: String, h: String, intdiv: String): String =
    "concat('49492A00', '08000000', '0200', " +
      s"'00010400', '01000000', ${leHexN(w, 4, intdiv)}, " +
      s"'01010300', '01000000', ${leHexN(h, 2, intdiv)}, '0000', " +
      "'00000000')"

  /** [[tiffHexLE]]'s big-endian ('MM') twin — identical layout,
    * every multi-byte field written big-endian (SHORT still in the
    * leading two value bytes). */
  def tiffHexBE(w: String, h: String, intdiv: String): String =
    "concat('4D4D002A', '00000008', '0002', " +
      s"'01000004', '00000001', ${hexN(w, 8, intdiv)}, " +
      s"'01010003', '00000001', ${hexN(h, 4, intdiv)}, '0000', " +
      "'00000000')"

  /** 1-based hex positions of the TIFF dims built above. */
  val TiffWidthPos = 18 * 2 + 1  // 37
  val TiffHeightPos = 30 * 2 + 1 // 61

  def gifHex(w: String, h: String, intdiv: String): String =
    s"concat('474946383961', " +
      s"${hexN(s"($w) % 256", 2, intdiv)}, " +
      s"${hexN(s"($w) $intdiv 256", 2, intdiv)}, " +
      s"${hexN(s"($h) % 256", 2, intdiv)}, " +
      s"${hexN(s"($h) $intdiv 256", 2, intdiv)}, '0000003B')"

  /** A minimal-but-valid PNG prefix: signature + IHDR chunk header
    * with width/height and the 8-bit RGBA IHDR tail. (No CRC/IDAT —
    * the header parser contract needs none.) Byte offsets: width@16,
    * height@20 → hex positions 33/41. */
  def pngHex(w: String, h: String, intdiv: String): String =
    s"concat('89504E470D0A1A0A0000000D49484452', " +
      s"${hexN(w, 8, intdiv)}, ${hexN(h, 8, intdiv)}, '0806000000')"

  /** A minimal-but-valid JPEG: SOI + a full 16-byte JFIF APP0 segment
    * (so the parser's marker walk actually has to skip something) +
    * SOF0 with precision 8, 3 components + EOI. Byte offsets:
    * height@25, width@27 → hex positions 51/55. */
  def jpegHex(w: String, h: String, intdiv: String): String =
    s"concat('FFD8FFE000104A46494600010100004800480000FFC0001108', " +
      s"${hexN(h, 4, intdiv)}, ${hexN(w, 4, intdiv)}, " +
      s"'03011100021101031101FFD9')"

  /** Hex positions of the dimension fields built above. */
  val PngWidthPos = 33
  val PngHeightPos = 41
  val JpegHeightPos = 51
  val JpegWidthPos = 55

  /** A JPEG with an EXIF APP1 before SOF0: SOI + APP1 (declared
    * length 34 = "Exif\0\0" + a 26-byte TIFF holding exactly IFD0
    * with the orientation tag 0x0112, SHORT, count 1, value inline
    * in the TIFF's OWN byte order) + the same SOF0 trailer as
    * [[jpegHex]]. `le` picks the embedded TIFF's endianness — one
    * fixture corpus exercises both disciplines inside the BE JPEG
    * walk. Byte offsets: orientation value @30, height @43,
    * width @45 → hex positions 61 / 87 / 91. */
  def jpegExifHex(w: String, h: String, orient: String, le: Boolean,
      intdiv: String): String = {
    val tiff =
      if (le) s"'49492A0008000000', '0100', '12010300', '01000000', " +
        s"${leHexN(orient, 2, intdiv)}, '0000', '00000000'"
      else s"'4D4D002A00000008', '0001', '01120003', '00000001', " +
        s"${hexN(orient, 4, intdiv)}, '0000', '00000000'"
    s"concat('FFD8FFE10022457869660000', $tiff, " +
      s"'FFC0001108', ${hexN(h, 4, intdiv)}, ${hexN(w, 4, intdiv)}, " +
      s"'03011100021101031101FFD9')"
  }

  /** Hex positions of the fields built by [[jpegExifHex]]. */
  val ExifOrientPos = 30 * 2 + 1 // 61: u16, endianness per fixture
  val ExifJpegHeightPos = 43 * 2 + 1 // 87
  val ExifJpegWidthPos = 45 * 2 + 1  // 91

  /** 1-based hex position of the first pixel byte of [[bmpHex]]
    * (54-byte header). */
  val BmpPixelPos = 54 * 2 + 1 // 109

  /** One byte at DYNAMIC 1-based hex position expression `posE` —
    * the positional read the mm_image_levels oracle replays the
    * pixel walk with. */
  def byteAt(hs: String, posE: String, posFn: String): String = {
    def digit(off: Int): String =
      s"(CAST($posFn('0123456789ABCDEF', substring($hs, " +
        s"CAST(($posE) + $off AS INT), 1)) - 1 AS BIGINT))"
    s"(${digit(0)} * 16 + ${digit(1)})"
  }

  /** A complete REAL 24-bit BI_RGB BMP file: 14-byte file header +
    * 40-byte BITMAPINFOHEADER + pixel rows (BGR, each row padded to
    * a 4-byte boundary). `w`/`h` are integer SQL expressions;
    * `pixelByteE` is the value of pixel-byte channel `c` ∈ {0,1,2}
    * (B,G,R) at column `x`, row `y` — free variables `x`, `y`, `c`.
    * `seqJoin` abstracts the engine spelling of
    * "transform a range and concatenate" — Spark
    * `array_join(transform(sequence(...)))` vs DuckDB
    * `list_aggregate(list_transform(range(...)), 'string_agg', '')`
    * — so both engines build byte-identical files. */
  def bmpHex(w: String, h: String, pixelByteE: String, intdiv: String,
      seqJoin: (String, String, String) => String): String = {
    import AudioHex.hexLE
    val stride = s"(((3 * ($w)) + 3) $intdiv 4) * 4"
    val pad = s"($stride) - 3 * ($w)"
    val rowHex = seqJoin("x", w,
      seqJoin("c", "3", hexN(pixelByteE, 2, intdiv))) +
      s" || repeat('00', $pad)"
    val pixels = seqJoin("y", h, s"($rowHex)")
    s"concat('424D', ${hexLE(s"54 + ($h) * ($stride)", 4, intdiv)}, " +
      "'00000000', '36000000', '28000000', " +
      s"${hexLE(w, 4, intdiv)}, ${hexLE(h, 4, intdiv)}, " +
      "'0100', '1800', '00000000', " +
      s"${hexLE(s"($h) * ($stride)", 4, intdiv)}, " +
      s"'130B0000', '130B0000', '00000000', '00000000', $pixels)"
  }

  /** 1-based hex position of the first RAW scanline byte of
    * [[pngFileHex]]: sig(8) + IHDR chunk(25) + IDAT len/type(8) +
    * zlib header(2) + stored-block header(5) = byte offset 48. */
  val PngRawPos = 48 * 2 + 1 // 97

  /** A complete PNG file whose pixel stream is a zlib STORED-mode
    * DEFLATE block — the one DEFLATE shape SQL can build (and an
    * oracle can replay BYTE-POSITIONALLY: stored blocks hold the raw
    * filtered scanlines verbatim at fixed offsets, no entropy
    * coding). The engine side still decodes it through the real
    * `java.util.zip.Inflater` path, so the two sides stay
    * independent implementations. Layout: signature, IHDR (8-bit
    * truecolor, no interlace), ONE IDAT chunk = zlib header `7801` +
    * final stored block (`01` + LEN/NLEN little-endian) + raw
    * scanlines (filter byte 0 + R,G,B samples — PNG sample order,
    * unlike BMP's B,G,R) + Adler32 trailer, then IEND. Chunk CRCs
    * and the Adler32 are zero placeholders: the decoder is a
    * tolerant parser (CRCs skipped, `Inflater(nowrap)` past the
    * trailer) — its fidelity on REAL encoder output (valid CRCs,
    * dynamic-Huffman blocks, multi-IDAT, filters 1–4) is proven by
    * the ImageIO round-trip spec, not by this fixture. Raw length
    * h·(1+3w) must stay ≤ 65535 (one stored block) — fixture dims
    * are single-digit. `pixelByteE` has free variables `x`, `y`,
    * `c` with c ∈ {0,1,2} = R,G,B. */
  def pngFileHex(w: String, h: String, pixelByteE: String,
      intdiv: String,
      seqJoin: (String, String, String) => String): String = {
    import AudioHex.hexLE
    val rawLen = s"($h) * (1 + 3 * ($w))"
    val rowHex = s"'00' || " + seqJoin("x", w,
      seqJoin("c", "3", hexN(pixelByteE, 2, intdiv)))
    val raw = seqJoin("y", h, s"($rowHex)")
    s"concat('89504E470D0A1A0A', " + // signature
      s"'0000000D49484452', ${hexN(w, 8, intdiv)}, " + // IHDR
      s"${hexN(h, 8, intdiv)}, '0802000000', '00000000', " +
      s"${hexN(s"($rawLen) + 11", 8, intdiv)}, '49444154', " + // IDAT
      s"'7801', '01', ${hexLE(rawLen, 2, intdiv)}, " +
      s"${hexLE(s"65535 - ($rawLen)", 2, intdiv)}, " +
      s"$raw, '00000000', '00000000', " + // adler + chunk crc
      s"'0000000049454E44AE426082')" // IEND
  }

  /** [[pngFileHex]]'s GRAYSCALE sibling (color type 0, bpp 1): same
    * container layout, scanlines are filter byte + w gray samples,
    * so the raw block is h·(1+w) bytes and the first raw scanline
    * byte sits at the SAME [[PngRawPos]] (the header is length-
    * identical; only IHDR's color-type byte differs). Exercises the
    * decoder's type-0 path — gray summed into all three channels —
    * against a byte-positional oracle replay. `pixelByteE` has free
    * variables `x`, `y`. */
  def pngGrayFileHex(w: String, h: String, pixelByteE: String,
      intdiv: String,
      seqJoin: (String, String, String) => String): String = {
    import AudioHex.hexLE
    val rawLen = s"($h) * (1 + ($w))"
    val rowHex = s"'00' || " + seqJoin("x", w, hexN(pixelByteE, 2, intdiv))
    val raw = seqJoin("y", h, s"($rowHex)")
    s"concat('89504E470D0A1A0A', " + // signature
      s"'0000000D49484452', ${hexN(w, 8, intdiv)}, " + // IHDR
      s"${hexN(h, 8, intdiv)}, '0800000000', '00000000', " +
      s"${hexN(s"($rawLen) + 11", 8, intdiv)}, '49444154', " + // IDAT
      s"'7801', '01', ${hexLE(rawLen, 2, intdiv)}, " +
      s"${hexLE(s"65535 - ($rawLen)", 2, intdiv)}, " +
      s"$raw, '00000000', '00000000', " + // adler + chunk crc
      s"'0000000049454E44AE426082')" // IEND
  }

  /** [[pngFileHex]]'s 16-BIT TRUECOLOR sibling (color type 2, bit
    * depth 16): same container layout, scanlines are filter byte +
    * 3 big-endian 2-byte samples per pixel, so the raw block is
    * h·(1+6w) bytes and the first raw scanline byte sits at the SAME
    * [[PngRawPos]]. `sample16E` is the 0–65535 sample value with
    * free variables `x`, `y`, `c` (c ∈ {0,1,2} = R,G,B); the oracle
    * replays each sample as two positional byte reads (hi·256+lo).
    * Exercises the decoder's depth-16 lane: byte-pair
    * reconstruction, 6-byte left-neighbor distance, full-value
    * sums. */
  def pngFile16Hex(w: String, h: String, sample16E: String,
      intdiv: String,
      seqJoin: (String, String, String) => String): String = {
    import AudioHex.hexLE
    val rawLen = s"($h) * (1 + 6 * ($w))"
    val rowHex = s"'00' || " + seqJoin("x", w,
      seqJoin("c", "3", hexN(sample16E, 4, intdiv)))
    val raw = seqJoin("y", h, s"($rowHex)")
    s"concat('89504E470D0A1A0A', " + // signature
      s"'0000000D49484452', ${hexN(w, 8, intdiv)}, " + // IHDR
      s"${hexN(h, 8, intdiv)}, '1002000000', '00000000', " +
      s"${hexN(s"($rawLen) + 11", 8, intdiv)}, '49444154', " + // IDAT
      s"'7801', '01', ${hexLE(rawLen, 2, intdiv)}, " +
      s"${hexLE(s"65535 - ($rawLen)", 2, intdiv)}, " +
      s"$raw, '00000000', '00000000', " + // adler + chunk crc
      s"'0000000049454E44AE426082')" // IEND
  }

  /** Scanline data widths (bytes per row, filter byte excluded) of
    * the FIXED 8×8 grayscale Adam7 fixture, in stream order: pass 1
    * is 1×1, pass 2 1×1, pass 3 2×1, pass 4 2×2, pass 5 4×2, pass 6
    * 4×4, pass 7 8×4 — 15 scanlines, 64 data bytes, 79 raw bytes.
    * Shared by the Spark-side builder and the oracle's positional
    * replay (the structure is static because the dims are). */
  val Adam7GrayRows: Seq[Int] =
    Seq(1, 1, 2, 2, 2, 4, 4, 4, 4, 4, 4, 8, 8, 8, 8)

  /** Stream byte offset (within the raw block) of Adam7 data byte
    * `j` ∈ [0, 64): `j` + one filter byte per scanline at or before
    * it. Returns a SQL CASE over the static row boundaries. */
  def adam7DataOffset(j: String): String = {
    val cuts = Adam7GrayRows.scanLeft(0)(_ + _).tail // cumulative ends
    val whens = cuts.dropRight(1).zipWithIndex.map { case (end, i) =>
      s"WHEN ($j) < $end THEN ${i + 1}"
    }.mkString(" ")
    s"(($j) + (CASE $whens ELSE ${cuts.size} END))"
  }

  /** A complete ADAM7-INTERLACED 8×8 grayscale PNG (bit depth 8,
    * interlace 1) with the stored-block DEFLATE layout of
    * [[pngFileHex]]. The seven passes appear in stream order as 15
    * scanlines ([[Adam7GrayRows]]); `pixelOfJ` gives the gray value
    * of data byte `j` ∈ [0, 64) — indexed by STREAM position, not
    * image (x, y), because levels are position-free and a static
    * index keeps the oracle replay a pure offset walk. Raw block is
    * 79 bytes; first raw byte at [[PngRawPos]]. */
  def pngAdam7GrayHex(pixelOfJ: String => String, intdiv: String,
      seqJoin: (String, String, String) => String): String = {
    val rows = {
      var j0 = 0
      Adam7GrayRows.map { wp =>
        val r = s"('00' || ${seqJoin("x", wp.toString,
          hexN(pixelOfJ(s"($j0 + x)"), 2, intdiv))})"
        j0 += wp
        r
      }
    }
    // rawLen 79 = 0x4F; IDAT len 90 = 0x5A; NLEN = 0xFFB0 (LE B0FF)
    s"concat('89504E470D0A1A0A', " + // signature
      "'0000000D49484452', '0000000800000008', " + // IHDR 8x8
      "'0800000001', '00000000', " + // depth 8, gray, Adam7
      "'0000005A', '49444154', '7801', '01', '4F00', 'B0FF', " +
      rows.mkString(", ") +
      ", '00000000', '00000000', " + // adler + chunk crc
      "'0000000049454E44AE426082')" // IEND
  }

  /** 1-based hex position of block `j`'s DC additional-bits byte in
    * [[jpegGrayFileHex]]'s output: the static 138-byte header, then
    * 3 bytes per block (DC code, bits, EOB code) — the bits byte is
    * the middle one. */
  def jpegBitsPos(j: String): String = s"(279 + 6 * ($j))"

  /** A complete BASELINE JPEG (SOF0, grayscale, 8-bit) whose entropy
    * stream is BYTE-ALIGNED — the one Huffman shape SQL can build
    * and an oracle can replay positionally: each DHT declares a
    * single length-8 code (canonical code 0x00), the DC symbol is
    * category 8 (8 additional bits), and every block is DC-only with
    * an immediate EOB — so a block is exactly three bytes
    * [00][bits][00] and no 0xFF ever appears in the entropy data
    * (no stuffing). The quant table is all-8s, making the DC-only
    * reconstruction EXACT: a flat 8×8 at clamp(Σdiffs + 128) —
    * IDCT-implementation-independent, so the oracle re-derives
    * pixels arithmetically from the same bits bytes it reads out of
    * the built hex. The engine side still decodes through the real
    * Huffman/IDCT path ([[JpegDecode]]); fidelity on real encoder
    * output (multi-length codes, AC coefficients, 4:2:0 chroma,
    * libjpeg IDCT) is JpegDecodeSpec's ImageIO comparisons.
    * `w`/`h` must be multiples of 8 (no partial-block edge in the
    * oracle's arithmetic); `bitsOfJ` gives block `j`'s additional-
    * bits byte (∈ [0, 254] — 255 would be an 0xFF entropy byte),
    * encoding diff = bits when bits ≥ 128, bits − 255 otherwise. */
  def jpegGrayFileHex(w: String, h: String, bitsOfJ: String => String,
      intdiv: String,
      seqJoin: (String, String, String) => String): String = {
    val counts = "00" * 7 + "01" + "00" * 8 // one code, length 8
    val nb = s"((($w) $intdiv 8) * (($h) $intdiv 8))"
    val blocks = seqJoin("j", nb,
      s"concat('00', ${hexN(bitsOfJ("j"), 2, intdiv)}, '00')")
    s"concat('FFD8', " + // SOI
      s"'FFDB004300', '${"08" * 64}', " + // DQT: all-8s
      s"'FFC4001400', '$counts', '08', " + // DHT DC: cat-8 symbol
      s"'FFC4001410', '$counts', '00', " + // DHT AC: EOB symbol
      s"'FFC0000B08', ${hexN(h, 4, intdiv)}, ${hexN(w, 4, intdiv)}, " +
      s"'01011100', " + // SOF0: 1 component, 1x1, quant 0
      s"'FFDA000801', '0100003F00', " + // SOS
      s"$blocks, 'FFD9')" // entropy + EOI
  }

  /** Spark spelling of seqJoin: `v` ranges over [0, n). */
  def seqJoinSpark(v: String, n: String, body: String): String =
    s"array_join(transform(sequence(0, CAST(($n) - 1 AS INT)), " +
      s"$v -> $body), '')"

  /** DuckDB spelling of seqJoin (`range(0, n)` is [0, n)). */
  def seqJoinDuck(v: String, n: String, body: String): String =
    s"list_aggregate(list_transform(range(0, CAST($n AS BIGINT)), " +
      s"$v -> $body), 'string_agg', '')"
}
