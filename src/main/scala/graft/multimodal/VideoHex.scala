package graft.multimodal

/** Engine-portable SQL fragments that BUILD a real minimal MP4
  * (ISO-BMFF) file as uppercase hex text — the big-endian video
  * sibling of [[ImageHex]]/[[AudioHex]], used by the `mm_video_meta`
  * fixture: the Spark query materializes the blob and parses it with
  * the native `video_meta` expression; the DuckDB
  * oracle round-trips the same hex through a real BLOB and extracts
  * the fields independently by offset arithmetic.
  *
  * Layout built by [[mp4Hex]] (244 bytes):
  *
  * {{{
  *   0 ftyp(16): size 'ftyp' 'isom' minor=0
  *  16 moov(228): size 'moov'
  *  24   free(12): size 'free' + 4 junk bytes      (walk must skip)
  *  36   mvhd(108) v0: ver/flags ctime mtime
  *         timescale@56  duration@60  rate volume …matrix… next_track
  * 144   trak(100): size 'trak'
  * 152     tkhd(92) v0: ver/flags ctime mtime track_id res duration
  *           …layer/volume/matrix…  width@236(16.16)  height@240(16.16)
  * }}}
  */
object VideoHex {

  import ImageHex.hexN

  private val unityMatrix =
    "'00010000000000000000000000000000000100000000000000000000" +
      "0000000040000000'"

  /** A minimal-but-valid MP4: `w`/`h`/`ts`/`dur` are integer SQL
    * expressions (dimensions integral pixels — stored 16.16). */
  def mp4Hex(w: String, h: String, ts: String, dur: String,
      intdiv: String): String =
    "concat(" +
      // ftyp
      "'0000001066747970 69736F6D 00000000', ".replace(" ", "") +
      // moov size 228 = 0xE4; free box with 4 junk payload bytes
      "'000000E46D6F6F76', '0000000C66726565 DEADBEEF', ".replace(" ", "") +
      // mvhd v0: size 108 = 0x6C
      "'0000006C6D766864', '00000000', '00000000', '00000000', " +
      s"${hexN(ts, 8, intdiv)}, ${hexN(dur, 8, intdiv)}, " +
      "'00010000', '0100', '0000', '0000000000000000', " +
      s"$unityMatrix, " +
      "'000000000000000000000000000000000000000000000000', '00000002', " +
      // trak size 100 = 0x64, tkhd v0 size 92 = 0x5C, flags 7
      "'000000647472616B', '0000005C746B6864', '00000007', " +
      "'00000000', '00000000', '00000001', '00000000', " +
      s"${hexN(dur, 8, intdiv)}, " +
      "'0000000000000000', '0000', '0000', '0000', '0000', " +
      s"$unityMatrix, " +
      s"${hexN(s"($w) * 65536", 8, intdiv)}, " +
      s"${hexN(s"($h) * 65536", 8, intdiv)})"

  /** 1-based hex positions of the extractable fields built above
    * (byte offset B → 2·B + 1). */
  val TimescalePos = 56 * 2 + 1 // 113
  val DurationPos = 60 * 2 + 1  // 121
  val WidthPos = 236 * 2 + 1    // 473
  val HeightPos = 240 * 2 + 1   // 481

  /** A minimal-but-valid AVI head (100 bytes) — the little-endian
    * RIFF counterpart of [[mp4Hex]], with a JUNK chunk the walk must
    * skip before `LIST/hdrl`:
    *
    * {{{
    *   0 'RIFF' size=92 'AVI '
    *  12 'JUNK' size=4 4 junk bytes              (walk must skip)
    *  24 'LIST' size=68 'hdrl'
    *  36   'avih' size=56:
    *         usPerFrame@44  totalFrames@60  width@76  height@80
    * }}}
    *
    * `usf` (µs per frame), `nf`, `w`, `h` are integer SQL
    * expressions; all avih fields are u32le. */
  def aviHex(w: String, h: String, usf: String, nf: String,
      intdiv: String): String = {
    import graft.multimodal.AudioHex.hexLE
    "concat('52494646', '5C000000', '41564920', " +          // RIFF/AVI
      "'4A554E4B', '04000000', 'DEADBEEF', " +               // JUNK
      "'4C495354', '44000000', '6864726C', " +               // LIST hdrl
      "'61766968', '38000000', " +                           // avih(56)
      s"${hexLE(usf, 4, intdiv)}, '0000000000000000', " +    // usf, max, pad
      "'00000000', " +                                       // flags
      s"${hexLE(nf, 4, intdiv)}, '00000000', " +             // frames, init
      "'01000000', '00000000', " +                           // streams, buf
      s"${hexLE(w, 4, intdiv)}, ${hexLE(h, 4, intdiv)}, " +
      "'00000000000000000000000000000000')"                  // reserved
  }

  /** 1-based hex positions of the avih fields built above. */
  val AviUsfPos = 44 * 2 + 1    // 89
  val AviFramesPos = 60 * 2 + 1 // 121
  val AviWidthPos = 76 * 2 + 1  // 153
  val AviHeightPos = 80 * 2 + 1 // 161
}
