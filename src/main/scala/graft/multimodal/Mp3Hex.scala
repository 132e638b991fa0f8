package graft.multimodal

import ImageHex.hexN

/** Engine-portable SQL fragments that BUILD real MPEG-1 Layer III
  * (MP3) streams as uppercase hex text — the compressed-audio
  * sibling of [[AudioHex]], used by the `mm_mp3_meta` fixture: the
  * Spark query materializes the blob and walks it with the native
  * `mp3_meta` expression; the DuckDB oracle
  * REPLAYS the frame walk positionally — it computes each frame's
  * byte offset by cumulative frame-length arithmetic, then EXTRACTS
  * the header bytes at those offsets from the same blob's hex and
  * re-derives every metric from the EXTRACTED values. A builder or
  * parser that mis-computes one frame length desynchronizes all
  * following offsets and hash-mismatches.
  *
  * Stream layout per document (all values deterministic in doc_id):
  * an ID3v2.4 tag on 3 of every 4 documents (9-byte header +
  * syncsafe size + `doc_id % 64` zero bytes — the walk must decode
  * syncsafe, not scan), then `doc_id % 8 + 3` frames. Sample rate
  * and channel mode are per-stream constants; the bitrate index
  * VARIES per frame (a real VBR stream), exercising the
  * length-derivation chain.
  */
object Mp3Hex {

  /** MPEG-1 Layer III kbps for 1-based bitrate index expression —
    * the table is irregular, and CASE spells identically in Spark
    * SQL and DuckDB. */
  def kbpsCase(brIdxE: String): String =
    s"(CASE ($brIdxE) WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 " +
      "WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 " +
      "WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160 " +
      "WHEN 11 THEN 192 WHEN 12 THEN 224 WHEN 13 THEN 256 " +
      "ELSE 320 END)"

  /** Sample-rate Hz for index expression 0..2. */
  def rateCase(srIdxE: String): String =
    s"(CASE ($srIdxE) WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
      "ELSE 32000 END)"

  /** Per-frame bitrate index 1..14 for frame variable `iv` — VBR by
    * construction. */
  def brIdxE(iv: String): String = s"((doc_id + 3 * ($iv)) % 14 + 1)"

  /** Per-frame padding bit for frame variable `iv`. */
  def padE(iv: String): String = s"((doc_id + ($iv)) % 2)"

  /** Derived frame length in bytes:
    * `144 * bitrate_bps / rate + padding` — the MPEG-1 Layer III
    * formula the parser must reproduce exactly. `rateE` is the
    * per-stream rate expression. */
  def flenE(iv: String, rateE: String, intdiv: String): String =
    s"((144000 * ${kbpsCase(brIdxE(iv))}) $intdiv ($rateE) + ${padE(iv)})"

  /** One frame as hex: sync+version+layer `FFFB`, the packed
    * bitrate/rate/padding byte, the packed channel-mode byte
    * (`mode*64 + 4` — original flag set), then zero filler to the
    * DERIVED length. `modeE`: 1 = joint stereo, 3 = mono. */
  def frameHex(iv: String, srIdxE: String, rateE: String,
      modeE: String, intdiv: String): String =
    s"concat('FFFB', " +
      s"${hexN(s"${brIdxE(iv)} * 16 + ($srIdxE) * 4 + ${padE(iv)} * 2", 2, intdiv)}, " +
      s"${hexN(s"($modeE) * 64 + 4", 2, intdiv)}, " +
      s"repeat('00', CAST(${flenE(iv, rateE, intdiv)} - 4 AS INT)))"

  /** An ID3v2.4 tag: "ID3" v2.4.0, flags 0, 28-bit SYNCSAFE size
    * (padE < 128 so only the last byte carries bits), then the tag
    * payload. */
  def id3Hex(padBytesE: String, intdiv: String): String =
    s"concat('494433040000000000', ${hexN(padBytesE, 2, intdiv)}, " +
      s"repeat('00', CAST($padBytesE AS INT)))"

  /** The whole stream: optional ID3 tag (`hasId3E` boolean
    * expression) + `nfE` frames. */
  def mp3Hex(hasId3E: String, id3PadE: String, nfE: String,
      srIdxE: String, rateE: String, modeE: String, intdiv: String,
      seqJoin: (String, String, String) => String): String =
    s"concat(CASE WHEN $hasId3E THEN ${id3Hex(id3PadE, intdiv)} " +
      "ELSE '' END, " +
      s"${seqJoin("i", nfE, frameHex("i", srIdxE, rateE, modeE, intdiv))})"

  // ---- MPEG-2 / 2.5 (LSF) fixture builders (`mm_mp3_mpeg2`) ----

  /** MPEG-2/2.5 Layer III kbps for 1-based bitrate index — the LSF
    * halves share one table. */
  def kbps2Case(brIdxE: String): String =
    s"(CASE ($brIdxE) WHEN 1 THEN 8 WHEN 2 THEN 16 WHEN 3 THEN 24 " +
      "WHEN 4 THEN 32 WHEN 5 THEN 40 WHEN 6 THEN 48 WHEN 7 THEN 56 " +
      "WHEN 8 THEN 64 WHEN 9 THEN 80 WHEN 10 THEN 96 " +
      "WHEN 11 THEN 112 WHEN 12 THEN 128 WHEN 13 THEN 144 " +
      "ELSE 160 END)"

  /** Sample-rate Hz for index 0..2: the MPEG-2 halves or the
    * MPEG-2.5 quarters of the MPEG-1 rates, by `v25E`. */
  def rate2Case(srIdxE: String, v25E: String): String =
    s"(CASE WHEN ($v25E) " +
      s"THEN (CASE ($srIdxE) WHEN 0 THEN 11025 WHEN 1 THEN 12000 " +
      "ELSE 8000 END) " +
      s"ELSE (CASE ($srIdxE) WHEN 0 THEN 22050 WHEN 1 THEN 24000 " +
      "ELSE 16000 END) END)"

  /** LSF frame length: `72 * bitrate_bps / rate + padding` (576
    * samples per frame — half MPEG-1's coefficient). */
  def flen2E(iv: String, rateE: String, intdiv: String): String =
    s"((72000 * ${kbps2Case(brIdxE(iv))}) $intdiv ($rateE) + ${padE(iv)})"

  /** One LSF frame as hex: sync + version (F3 = MPEG-2, E3 = 2.5) +
    * the packed bytes + zero filler to the DERIVED length. */
  def frameHex2(iv: String, srIdxE: String, rateE: String,
      modeE: String, v25E: String, intdiv: String): String =
    s"concat('FF', CASE WHEN ($v25E) THEN 'E3' ELSE 'F3' END, " +
      s"${hexN(s"${brIdxE(iv)} * 16 + ($srIdxE) * 4 + ${padE(iv)} * 2", 2, intdiv)}, " +
      s"${hexN(s"($modeE) * 64 + 4", 2, intdiv)}, " +
      s"repeat('00', CAST(${flen2E(iv, rateE, intdiv)} - 4 AS INT)))"

  /** The whole LSF stream: optional ID3 tag + `nfE` frames. */
  def mp3Hex2(hasId3E: String, id3PadE: String, nfE: String,
      srIdxE: String, rateE: String, modeE: String, v25E: String,
      intdiv: String,
      seqJoin: (String, String, String) => String): String =
    s"concat(CASE WHEN $hasId3E THEN ${id3Hex(id3PadE, intdiv)} " +
      "ELSE '' END, " +
      s"${seqJoin("i", nfE, frameHex2("i", srIdxE, rateE, modeE, v25E, intdiv))})"

  /** 2.5 on odd docs, 2 on even — the version split of the LSF
    * fixture. Mode decoupled from the version split. */
  val V25E = "doc_id % 2 = 1"
  val Mode2E = "CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 3 END"

  /** Shared per-document fixture parameters, as SQL over `doc_id` —
    * spelled once so query and oracle can never drift. */
  val SrIdxE = "CAST(doc_id % 3 AS INT)"
  val NframesE = "CAST(doc_id % 8 AS INT) + 3"
  val HasId3E = "doc_id % 4 <> 0"
  val Id3PadE = "CAST(doc_id % 64 AS INT)"
  /** 1 = joint stereo (2 channels) on even docs, 3 = mono on odd. */
  val ModeE = "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END"

  /** MPEG-1 side-info length for mode expression `modeE` (17 bytes
    * mono, 32 otherwise) — where the Xing block begins inside the
    * first frame. */
  def sideE(modeE: String): String =
    s"(CASE WHEN ($modeE) = 3 THEN 17 ELSE 32 END)"

  /** First frame carrying a Xing/Info VBR block: the same derived
    * frame geometry as [[frameHex]] for frame 0, but the filler
    * holds side-info zeros, the 4-byte magic (`magicHexE` — hex of
    * 'Xing' or 'Info'), flags 3 (frames + bytes), and the two
    * big-endian declared counts. Smallest MPEG-1 Layer III frame is
    * 96 bytes ≥ 4 + 32 + 16, so the block always fits. */
  def xingFrameHex(srIdxE: String, rateE: String, modeE: String,
      magicHexE: String, framesE: String, bytesE: String,
      intdiv: String): String =
    s"concat('FFFB', " +
      s"${hexN(s"${brIdxE("0")} * 16 + ($srIdxE) * 4 + ${padE("0")} * 2", 2, intdiv)}, " +
      s"${hexN(s"($modeE) * 64 + 4", 2, intdiv)}, " +
      s"repeat('00', CAST(${sideE(modeE)} AS INT)), " +
      s"($magicHexE), '00000003', " +
      s"${hexN(framesE, 8, intdiv)}, ${hexN(bytesE, 8, intdiv)}, " +
      s"repeat('00', CAST(${flenE("0", rateE, intdiv)} - 4 - " +
      s"${sideE(modeE)} - 16 AS INT)))"

  /** The VBR-tagged stream: optional ID3 tag + Xing first frame +
    * the remaining `nfE − 1` plain frames. */
  def mp3VbrHex(hasId3E: String, id3PadE: String, nfE: String,
      srIdxE: String, rateE: String, modeE: String,
      magicHexE: String, framesE: String, bytesE: String,
      intdiv: String,
      seqJoin: (String, String, String) => String): String =
    s"concat(CASE WHEN $hasId3E THEN ${id3Hex(id3PadE, intdiv)} " +
      "ELSE '' END, " +
      s"${xingFrameHex(srIdxE, rateE, modeE, magicHexE, framesE, bytesE, intdiv)}, " +
      s"${seqJoin("i", s"($nfE) - 1",
        frameHex("(i + 1)", srIdxE, rateE, modeE, intdiv))})"

  /** Declared VBR totals — META values (they describe a whole file
    * the fixture does not materialize), deterministic in doc_id. */
  val VbrFramesE = "(doc_id % 100000) * 7 + 100"
  val VbrBytesE = "(doc_id % 1000000) * 997 + 10000"
  /** 'Xing' on even docs, 'Info' on odd — hex of the ASCII magic. */
  val VbrMagicHexE =
    "CASE WHEN doc_id % 2 = 0 THEN '58696E67' ELSE '496E666F' END"

  /** One ID3v2 TEXT frame as hex: 4-byte id, the size field in the
    * TAG VERSION's own discipline (v2.4 syncsafe — texts stay under
    * 127 bytes in the fixture so only the last byte carries bits;
    * v2.3 plain u32be), zero flags, UTF-8 encoding byte, then the
    * text via the dialect's string→hex (`hexStr`). */
  private def textFrameHex(idHex: String, textE: String, ver24: Boolean,
      intdiv: String, hexStr: String => String): String = {
    val size =
      if (ver24) s"concat('000000', ${hexN(s"1 + length($textE)", 2, intdiv)})"
      else hexN(s"1 + length($textE)", 8, intdiv)
    s"concat('$idHex', $size, '0000', '03', ${hexStr(textE)})"
  }

  /** A complete ID3v2.2 tag — the LEGACY 6-byte frame headers
    * (3-char ids TT2/TP1/TAL, u24be sizes, no flags) real
    * iTunes-era files still carry — with ISO-8859-1 text frames.
    * `hexStr` as in [[id3TagsHex]]. */
  def id3Tags22Hex(t1: String, t2: String, t3: String,
      hasAlbumE: String, intdiv: String,
      hexStr: String => String): String = {
    def tf(idHex: String, t: String): String =
      s"concat('$idHex', ${hexN(s"1 + length($t)", 6, intdiv)}, " +
        s"'00', ${hexStr(t)})"
    val total = s"(14 + length($t1) + length($t2) + " +
      s"CASE WHEN $hasAlbumE THEN 7 + length($t3) ELSE 0 END)"
    s"concat('494433', '0200', '00', " +
      s"'0000', ${hexN(s"$total $intdiv 128", 2, intdiv)}, " +
      s"${hexN(s"$total % 128", 2, intdiv)}, " +
      s"${tf("545432", t1)}, " + // TT2
      s"${tf("545031", t2)}, " + // TP1
      s"CASE WHEN $hasAlbumE THEN ${tf("54414C", t3)} " + // TAL
      "ELSE '' END)"
  }

  /** A complete ID3v2.3/2.4 tag carrying TIT2 + TPE1 (+ TALB when
    * `hasAlbumE`): header with the SYNCSAFE total, then the frames.
    * `hexStr` is the dialect's string→hex spelling (Spark
    * `hex(encode(e, 'UTF-8'))`, DuckDB `hex(encode(e))`). */
  def id3TagsHex(t1: String, t2: String, t3: String,
      hasAlbumE: String, ver24: Boolean, intdiv: String,
      hexStr: String => String): String = {
    val total = s"(22 + length($t1) + length($t2) + " +
      s"CASE WHEN $hasAlbumE THEN 11 + length($t3) ELSE 0 END)"
    s"concat('494433', '${if (ver24) "04" else "03"}00', '00', " +
      s"'0000', ${hexN(s"$total $intdiv 128", 2, intdiv)}, " +
      s"${hexN(s"$total % 128", 2, intdiv)}, " +
      s"${textFrameHex("54495432", t1, ver24, intdiv, hexStr)}, " +
      s"${textFrameHex("54504531", t2, ver24, intdiv, hexStr)}, " +
      s"CASE WHEN $hasAlbumE THEN " +
      s"${textFrameHex("54414C42", t3, ver24, intdiv, hexStr)} " +
      "ELSE '' END)"
  }
}
