package graft.multimodal

/** Engine-portable SQL fragments that BUILD real PCM WAV headers as
  * uppercase hex text — the little-endian sibling of [[ImageHex]],
  * used by the `mm_audio_meta` fixture: the Spark query materializes
  * the blob and parses it with the native
  * `audio_meta` expression; the DuckDB oracle
  * round-trips the same hex through a real BLOB and extracts the
  * fields independently by offset arithmetic.
  *
  * Layout built by [[wavHex]] (64 bytes, data payload deliberately
  * absent — declared-size semantics, see
  * [[AudioHeaders]]):
  *
  * {{{
  *  0 "RIFF"  4 riff_size(u32le)  8 "WAVE"
  * 12 "LIST" 16 size=12          20 "INFOIARTGFT0"   (walk must skip)
  * 32 "fmt " 36 size=16          40 fmt payload:
  *      40 format=1  42 channels  44 sample_rate  48 byte_rate
  *      52 block_align  54 bits=16
  * 56 "data" 60 data_size(u32le)
  * }}}
  */
object AudioHex {

  /** n-BYTE little-endian hex of non-negative integer SQL expression
    * `e` (each byte still prints its two digits high-nibble-first —
    * LE is byte order, not digit order). */
  def hexLE(e: String, nBytes: Int, intdiv: String): String =
    (0 until nBytes).map { i =>
      val p = 1L << (8 * i)
      ImageHex.hexN(s"(($e) $intdiv $p) % 256", 2, intdiv)
    }.mkString("concat(", ", ", ")")

  /** Integer from the n little-endian BYTES at 1-based hex position
    * `pos` of hex string expression `hs` ([[ImageHex.leUnhexN]],
    * shared — ONE definition of the LE read). */
  def unhexLE(hs: String, pos: Int, nBytes: Int, posFn: String): String =
    ImageHex.leUnhexN(hs, pos, nBytes, posFn)

  /** A minimal-but-valid PCM WAV header (16-bit samples). `rate`,
    * `ch`, `dataBytes` are integer SQL expressions; riff_size is the
    * declared content size (4 + 20 + 24 + 8 + dataBytes). */
  def wavHex(rate: String, ch: String, dataBytes: String,
      intdiv: String): String =
    s"concat('52494646', ${hexLE(s"56 + ($dataBytes)", 4, intdiv)}, " +
      "'57415645', " +
      "'4C495354', '0C000000', '494E464F4941525447465430', " +
      "'666D7420', '10000000', '0100', " +
      s"${hexLE(ch, 2, intdiv)}, ${hexLE(rate, 4, intdiv)}, " +
      s"${hexLE(s"($rate) * ($ch) * 2", 4, intdiv)}, " +
      s"${hexLE(s"($ch) * 2", 2, intdiv)}, '1000', " +
      s"'64617461', ${hexLE(dataBytes, 4, intdiv)})"

  /** 1-based hex positions of the extractable fields built above. */
  val ChannelsPos = 42 * 2 + 1   // 85
  val SampleRatePos = 44 * 2 + 1 // 89
  val DataSizePos = 60 * 2 + 1   // 121

  /** 1-based hex position of the first PCM sample when a payload is
    * appended after the 64-byte header built by [[wavHex]]. */
  val PayloadPos = 64 * 2 + 1    // 129

  /** The deterministic s16le test signal, as the UNSIGNED two's-
    * complement 16-bit value of sample `i` of document `doc_id` —
    * full-range (so peaks and clips genuinely occur), pure int
    * arithmetic, identical in both engines. The decoded signed value
    * is u - 65536 when u ≥ 32768. */
  val SampleExpr = "((doc_id * 7919 + i * 104729) % 65536)"

  /** Hex of `nv` little-endian 16-bit samples, the i-th being SQL
    * expression `sampleE` (free variable `i`) — Spark spelling
    * (higher-order functions). */
  def pcmPayloadHexSpark(nv: String, sampleE: String): String =
    s"array_join(transform(sequence(0, CAST(($nv) - 1 AS INT)), " +
      s"i -> ${hexLE(sampleE, 2, "div")}), '')"

  /** [[pcmPayloadHexSpark]]'s DuckDB spelling (list lambdas;
    * `range(0, nv)` is [0, nv) like Spark's `sequence(0, nv-1)`). */
  def pcmPayloadHexDuck(nv: String, sampleE: String): String =
    s"list_aggregate(list_transform(range(0, CAST($nv AS BIGINT)), " +
      s"i -> ${hexLE(sampleE, 2, "//")}), 'string_agg', '')"

  /** [[wavHex]] generalized over the sample WIDTH (8/16/24-bit
    * integer PCM): same 64-byte layout and field positions,
    * byte_rate / block_align / bits derived from `bytesPerSample`.
    * `dataBytes` counts payload BYTES. */
  def wavHexBits(rate: String, ch: String, dataBytes: String,
      bytesPerSample: Int, intdiv: String): String =
    s"concat('52494646', ${hexLE(s"56 + ($dataBytes)", 4, intdiv)}, " +
      "'57415645', " +
      "'4C495354', '0C000000', '494E464F4941525447465430', " +
      "'666D7420', '10000000', '0100', " +
      s"${hexLE(ch, 2, intdiv)}, ${hexLE(rate, 4, intdiv)}, " +
      s"${hexLE(s"($rate) * ($ch) * $bytesPerSample", 4, intdiv)}, " +
      s"${hexLE(s"($ch) * $bytesPerSample", 2, intdiv)}, " +
      s"${hexLE((bytesPerSample * 8).toString, 2, intdiv)}, " +
      s"'64617461', ${hexLE(dataBytes, 4, intdiv)})"

  /** Hex of `nv` little-endian samples of `bytesPerSample` bytes,
    * the i-th being SQL expression `sampleE` (free variable `i`) —
    * Spark / DuckDB spellings. */
  def pcmPayloadNHexSpark(nv: String, sampleE: String,
      bytesPerSample: Int): String =
    s"array_join(transform(sequence(0, CAST(($nv) - 1 AS INT)), " +
      s"i -> ${hexLE(sampleE, bytesPerSample, "div")}), '')"
  def pcmPayloadNHexDuck(nv: String, sampleE: String,
      bytesPerSample: Int): String =
    s"list_aggregate(list_transform(range(0, CAST($nv AS BIGINT)), " +
      s"i -> ${hexLE(sampleE, bytesPerSample, "//")}), 'string_agg', '')"

  /** A minimal-but-valid G.711 WAV header (`fmtHexLE` = '0700'
    * µ-law / '0600' A-law, 8-bit codes) — [[wavHex]]'s companded
    * sibling, same 64-byte layout and field positions, differing
    * only in the fmt payload: bits=8, byte_rate = rate × ch × 1,
    * block_align = ch × 1. `dataBytes` counts CODE bytes (one per
    * value). */
  def wavHexG711(fmtHexLE: String, rate: String, ch: String,
      dataBytes: String, intdiv: String): String =
    s"concat('52494646', ${hexLE(s"56 + ($dataBytes)", 4, intdiv)}, " +
      "'57415645', " +
      "'4C495354', '0C000000', '494E464F4941525447465430', " +
      s"'666D7420', '10000000', '$fmtHexLE', " +
      s"${hexLE(ch, 2, intdiv)}, ${hexLE(rate, 4, intdiv)}, " +
      s"${hexLE(s"($rate) * ($ch)", 4, intdiv)}, " +
      s"${hexLE(ch, 2, intdiv)}, '0800', " +
      s"'64617461', ${hexLE(dataBytes, 4, intdiv)})"

  def wavHexUlaw(rate: String, ch: String, dataBytes: String,
      intdiv: String): String =
    wavHexG711("0700", rate, ch, dataBytes, intdiv)

  /** IEEE-float WAV header (format tag 3, 32-bit samples) — same
    * 64-byte layout; `nValues` counts float values (4 bytes each,
    * declared-size semantics like [[wavHex]]). */
  def wavHexFloat(rate: String, ch: String, nValues: String,
      intdiv: String): String =
    s"concat('52494646', ${hexLE(s"56 + ($nValues) * 4", 4, intdiv)}, " +
      "'57415645', " +
      "'4C495354', '0C000000', '494E464F4941525447465430', " +
      "'666D7420', '10000000', '0300', " +
      s"${hexLE(ch, 2, intdiv)}, ${hexLE(rate, 4, intdiv)}, " +
      s"${hexLE(s"($rate) * ($ch) * 4", 4, intdiv)}, " +
      s"${hexLE(s"($ch) * 4", 2, intdiv)}, '2000', " +
      s"'64617461', ${hexLE(s"($nValues) * 4", 4, intdiv)})"

  /** 1-based hex position of the bits-per-sample field (byte 54). */
  val BitsPos = 54 * 2 + 1 // 109

  def wavHexAlaw(rate: String, ch: String, dataBytes: String,
      intdiv: String): String =
    wavHexG711("0600", rate, ch, dataBytes, intdiv)

  /** The deterministic µ-law CODE of value `i` of document `doc_id`
    * — full code range (so both digital rails 0x00/0x80 and both
    * zeros 0xFF/0x7F genuinely occur), pure int arithmetic,
    * identical in both engines. */
  val UlawCodeExpr = "((doc_id * 131 + i * 241) % 256)"

  /** [[UlawCodeExpr]]'s A-law sibling — a different deterministic
    * full-range code stream (both rails 0x2A/0xAA and both quietest
    * codes 0x55/0xD5 occur). */
  val AlawCodeExpr = "((doc_id * 173 + i * 251) % 256)"

  /** Hex of `nv` µ-law code bytes, the i-th being SQL expression
    * `codeE` (free variable `i`) — Spark spelling ([[ImageHex]]'s
    * shared seq-join, ONE definition of the loop spelling). */
  def ulawPayloadHexSpark(nv: String, codeE: String): String =
    ImageHex.seqJoinSpark("i", nv, ImageHex.hexN(codeE, 2, "div"))

  /** [[ulawPayloadHexSpark]]'s DuckDB spelling. */
  def ulawPayloadHexDuck(nv: String, codeE: String): String =
    ImageHex.seqJoinDuck("i", nv, ImageHex.hexN(codeE, 2, "//"))

  /** u16le at DYNAMIC 1-based hex position expression `posE` of hex
    * string expression `hs` — the oracle's per-sample read (fixed-
    * position fields use [[unhexLE]]). */
  def unhexLEat(hs: String, posE: String, posFn: String): String = {
    def digit(off: Int): String =
      s"(CAST($posFn('0123456789ABCDEF', substring($hs, " +
        s"CAST(($posE) + $off AS INT), 1)) - 1 AS BIGINT))"
    s"(${digit(0)} * 16 + ${digit(1)} + " +
      s"(${digit(2)} * 16 + ${digit(3)}) * 256)"
  }

  /** u8 at DYNAMIC 1-based hex position expression `posE` of hex
    * string expression `hs` — the oracle's per-CODE read for the
    * one-byte-per-value µ-law payload ([[ImageHex.byteAt]], shared
    * — ONE definition of the dynamic byte read). */
  def unhexU8at(hs: String, posE: String, posFn: String): String =
    ImageHex.byteAt(hs, posE, posFn)

  /** A minimal-but-valid FLAC stream head: "fLaC" + STREAMINFO
    * (34-byte body: block sizes 4096/4096, frame sizes unknown,
    * the 64-bit geometry bit-pack, zero MD5 = unknown), optionally
    * followed by a declared-length PADDING block when `hasPadE` —
    * so STREAMINFO's is-last bit genuinely varies across the corpus
    * and a parser that misreads the whole header byte as the type
    * fails half the files. The geometry pack is built NIBBLE-ALIGNED
    * on purpose (20-bit rate = 5 hex digits; channels−1 in bits 3..1
    * of one nibble with the bits/sample−1 high bit 0 since the
    * fixture stays ≤ 16 bits; total < 2^32 so its top nibble is 0):
    * every field is positionally extractable by the oracle.
    * Constraints on the caller: `bits` ≤ 16, `total` < 2^32,
    * channels 1..8, rate < 2^20. */
  def flacHex(rate: String, ch: String, bits: String, total: String,
      hasPadE: String, padBytesE: String, intdiv: String): String = {
    import ImageHex.hexN
    s"concat('664C6143', " +
      s"CASE WHEN $hasPadE THEN '00' ELSE '80' END, '000022', " +
      "'1000', '1000', '000000', '000000', " +
      s"${hexN(rate, 5, intdiv)}, " +
      s"${hexN(s"(($ch) - 1) * 2", 1, intdiv)}, " +
      s"${hexN(s"($bits) - 1", 1, intdiv)}, '0', " +
      s"${hexN(total, 8, intdiv)}, " +
      s"repeat('0', 32), " +
      s"CASE WHEN $hasPadE THEN concat('81', " +
      s"${hexN(padBytesE, 6, intdiv)}, " +
      s"repeat('00', CAST($padBytesE AS INT))) ELSE '' END)"
  }

  /** u16 BIG-endian at DYNAMIC 1-based hex position expression
    * `posE` — [[unhexLEat]]'s big-endian twin, for FLAC's BE frame
    * payloads. */
  def unhexBEat(hs: String, posE: String, posFn: String): String = {
    def digit(off: Int): String =
      s"(CAST($posFn('0123456789ABCDEF', substring($hs, " +
        s"CAST(($posE) + $off AS INT), 1)) - 1 AS BIGINT))"
    s"((${digit(0)} * 16 + ${digit(1)}) * 256 + " +
      s"${digit(2)} * 16 + ${digit(3)})"
  }

  /** Hex of `nv` BIG-endian 16-bit samples (FLAC frame payloads are
    * BE bit-packs; [[pcmPayloadHexSpark]] is the WAV LE twin) —
    * Spark spelling. */
  def pcmPayloadBEHexSpark(nv: String, sampleE: String): String =
    s"array_join(transform(sequence(0, CAST(($nv) - 1 AS INT)), " +
      s"i -> ${ImageHex.hexN(sampleE, 4, "div")}), '')"

  /** [[pcmPayloadBEHexSpark]]'s DuckDB spelling. */
  def pcmPayloadBEHexDuck(nv: String, sampleE: String): String =
    s"list_aggregate(list_transform(range(0, CAST($nv AS BIGINT)), " +
      s"i -> ${ImageHex.hexN(sampleE, 4, "//")}), 'string_agg', '')"

  /** One complete FLAC audio FRAME in hex — the UNCODED-subframe
    * fixture behind `mm_flac_pcm`: fixed blocking strategy, rate
    * and sample size from STREAMINFO (codes 0), independent
    * channels, 8-bit inline blocksize, frame number 0; channel 0 a
    * VERBATIM subframe of `ns` 16-bit BE samples (`sampleE`, free
    * variable `i`), channel 1 (when `ch` = 2) a CONSTANT subframe
    * of `constE`. With 16-bit samples every field is byte-aligned,
    * so the oracle reads samples positionally from the hex. CRC-8 /
    * CRC-16 are zero — the decoder is a metering pass and does not
    * checksum (the Ogg discipline). Caller constraints: `ch` 1..2,
    * samples already in [0, 65536). */
  def flacFrameHex(ch: String, ns: String, sampleE: String,
      constE: String, intdiv: String, spark: Boolean): String = {
    import ImageHex.hexN
    val verbatim =
      if (spark) pcmPayloadBEHexSpark(ns, sampleE)
      else pcmPayloadBEHexDuck(ns, sampleE)
    s"concat('FFF860', ${hexN(s"(($ch) - 1) * 16", 2, intdiv)}, " +
      s"'00', ${hexN(s"($ns) - 1", 2, intdiv)}, '00', " +
      s"'02', $verbatim, " +
      s"CASE WHEN ($ch) = 2 THEN concat('00', " +
      s"${hexN(constE, 4, intdiv)}) ELSE '' END, " +
      "'0000')"
  }

  /** Byte offset of the first frame behind [[flacHex]] with no
    * padding block: "fLaC"(4) + block header(4) + STREAMINFO(34). */
  val FlacFrameStart = 42
  /** 1-based hex position of VERBATIM sample `i` (channel 0) in the
    * [[flacHex]]+[[flacFrameHex]] fixture: frame header is 7 bytes,
    * subframe header 1. */
  val FlacSamplePosBase = (FlacFrameStart + 8) * 2 + 1 // + 4*i
  /** 1-based hex position EXPRESSION of the CONSTANT value (channel
    * 1), after the ns-sample VERBATIM payload + its 1-byte header. */
  def flacConstPos(ns: String): String =
    s"${(FlacFrameStart + 9) * 2 + 1} + 4 * ($ns)"

  /** 1-based hex positions of the geometry fields built by
    * [[flacHex]] (file byte 18 = the first packed byte). */
  val FlacRatePos = 18 * 2 + 1     // 37: 5 digits, big-endian
  val FlacChNibblePos = 20 * 2 + 2 // 42: (ch−1)·2 nibble
  val FlacBitsNibblePos = 21 * 2 + 1 // 43: bits−1 nibble
  val FlacTotalPos = 22 * 2 + 1    // 45: 8 digits, big-endian

  /** A FLAC stream head whose STREAMINFO (is-last clear) is followed
    * by a VORBIS_COMMENT block carrying TITLE + ARTIST (+ ALBUM when
    * `hasAlbE`) — the cross-endian fixture: block framing lengths
    * are u24 BIG-endian, the comment payload's lengths u32
    * LITTLE-endian (the Vorbis spec), `hexStr` the dialect's
    * string→hex. Geometry fields identical to [[flacHex]]. */
  def flacTagsHex(rate: String, ch: String, bits: String,
      total: String, t1: String, t2: String, t3: String,
      hasAlbE: String, intdiv: String,
      hexStr: String => String): String = {
    import ImageHex.hexN
    def cmt(prefixHex: String, plen: Int, t: String): String =
      s"concat(${hexLE(s"$plen + length($t)", 4, intdiv)}, " +
        s"'$prefixHex', ${hexStr(t)})"
    val blockLen = s"(13 + 10 + length($t1) + 11 + length($t2) + " +
      s"CASE WHEN $hasAlbE THEN 10 + length($t3) ELSE 0 END)"
    s"concat('664C6143', '00', '000022', " +
      "'1000', '1000', '000000', '000000', " +
      s"${hexN(rate, 5, intdiv)}, " +
      s"${hexN(s"(($ch) - 1) * 2", 1, intdiv)}, " +
      s"${hexN(s"($bits) - 1", 1, intdiv)}, '0', " +
      s"${hexN(total, 8, intdiv)}, repeat('0', 32), " +
      s"'84', ${hexN(blockLen, 6, intdiv)}, " +
      "'05000000', '6772616674', " + // vendor "graft"
      s"${hexLE(s"CASE WHEN $hasAlbE THEN 3 ELSE 2 END", 4, intdiv)}, " +
      s"${cmt("5449544C453D", 6, t1)}, " +  // TITLE=
      s"${cmt("4152544953543D", 7, t2)}, " + // ARTIST=
      s"CASE WHEN $hasAlbE THEN ${cmt("414C42554D3D", 6, t3)} " +
      "ELSE '' END)"
  }

  /** A minimal-but-valid two-page Ogg/Vorbis stream: a BOS page
    * carrying the 30-byte Vorbis identification packet (one lacing
    * value), then an EOS page whose GRANULE POSITION is the total
    * sample count and whose `padBytesE`-byte payload stands in for
    * the opaque audio packet — so the walk must cross a page
    * boundary by lacing arithmetic to find the duration. CRCs are
    * zero (not verified by a metadata pass). `ch` is the u8 channel
    * count, `rate` u32le, `total` the u64le granule (keep < 2⁵³ for
    * oracle-exact integer reads). */
  def oggHex(rate: String, ch: String, total: String,
      padBytesE: String, intdiv: String): String =
    s"concat('4F676753', '00', '02', '0000000000000000', " +
      "'01000000', '00000000', '00000000', '01', '1E', " +
      s"'01', '766F72626973', '00000000', " +
      s"${hexLE(ch, 1, intdiv)}, ${hexLE(rate, 4, intdiv)}, " +
      s"'000000000000000000000000', 'B8', '01', " +
      s"'4F676753', '00', '04', ${hexLE(total, 8, intdiv)}, " +
      "'01000000', '01000000', '00000000', '01', " +
      s"${hexLE(padBytesE, 1, intdiv)}, " +
      s"repeat('00', CAST($padBytesE AS INT)))"

  /** 1-based hex positions of the fields built by [[oggHex]]. */
  val OggChannelsPos = 39 * 2 + 1 // 79: u8
  val OggRatePos = 40 * 2 + 1     // 81: u32le
  val OggGranulePos = 64 * 2 + 1  // 129: u64le

  /** A three-page Ogg/Vorbis stream whose SECOND page carries the
    * `0x03 "vorbis"` COMMENT packet — vendor "graft", TITLE +
    * ARTIST (+ ALBUM when `hasAlbE`) in the little-endian
    * length-prefixed Vorbis form, the mandatory framing byte — so a
    * tag reader must assemble the packet from lacing values between
    * the BOS identification page and the EOS audio stand-in page.
    * Texts must keep the packet under 255 bytes (one lacing
    * value). */
  def oggTagsHex(rate: String, ch: String, total: String,
      padBytesE: String, t1: String, t2: String, t3: String,
      hasAlbE: String, intdiv: String,
      hexStr: String => String): String = {
    def cmt(prefixHex: String, plen: Int, t: String): String =
      s"concat(${hexLE(s"$plen + length($t)", 4, intdiv)}, " +
        s"'$prefixHex', ${hexStr(t)})"
    val plen = s"(42 + length($t1) + length($t2) + " +
      s"CASE WHEN $hasAlbE THEN 10 + length($t3) ELSE 0 END)"
    s"concat('4F676753', '00', '02', '0000000000000000', " +
      "'01000000', '00000000', '00000000', '01', '1E', " +
      s"'01', '766F72626973', '00000000', " +
      s"${hexLE(ch, 1, intdiv)}, ${hexLE(rate, 4, intdiv)}, " +
      s"'000000000000000000000000', 'B8', '01', " +
      s"'4F676753', '00', '00', '0000000000000000', " +
      s"'01000000', '02000000', '00000000', '01', " +
      s"${hexLE(plen, 1, intdiv)}, " +
      s"'03', '766F72626973', '05000000', '6772616674', " +
      s"${hexLE(s"CASE WHEN $hasAlbE THEN 3 ELSE 2 END", 4, intdiv)}, " +
      s"${cmt("5449544C453D", 6, t1)}, " + // TITLE=
      s"${cmt("4152544953543D", 7, t2)}, " + // ARTIST=
      s"CASE WHEN $hasAlbE THEN ${cmt("414C42554D3D", 6, t3)} " +
      "ELSE '' END, '01', " + // framing byte
      s"'4F676753', '00', '04', ${hexLE(total, 8, intdiv)}, " +
      "'01000000', '03000000', '00000000', '01', " +
      s"${hexLE(padBytesE, 1, intdiv)}, " +
      s"repeat('00', CAST($padBytesE AS INT)))"
  }
}
