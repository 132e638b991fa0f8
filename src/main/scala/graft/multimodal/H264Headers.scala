package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.functions.NativeFn.row

/** Real H.264/AVC Annex-B NAL walk + SPS (sequence parameter set)
  * parse — Exp-Golomb bit arithmetic on the bare JDK, the video
  * sibling of [[Mp3Headers]]' frame walk and the bitstream-level
  * complement of [[VideoHeaders]]' MP4 container walk (an MP4 `avcC`
  * box carries exactly these SPS bytes; an Annex-B elementary stream
  * carries them behind start codes).
  *
  * An Annex-B stream is NAL units delimited by start codes
  * (`00 00 01`, optionally preceded by any number of zero bytes).
  * Each NAL is one header byte — `forbidden_zero(1)
  * nal_ref_idc(2) nal_unit_type(5)` — plus an RBSP payload in which
  * every `00 00 {00,01,02,03}` is escaped as `00 00 03 xx`
  * (emulation prevention: payload bytes can never alias a start
  * code; the walk relies on it, the SPS read strips it).
  *
  * The SPS (type 7) is parsed with a real bit reader:
  * `profile_idc u(8)`, constraint flags, `level_idc u(8)`, then
  * unsigned/signed Exp-Golomb fields (`ue(v)`: count leading zeros
  * z, read z more bits, value = 2^z - 1 + bits). Picture dimensions
  * are DERIVED, not stored:
  * {{{
  * width  = (pic_width_in_mbs_minus1 + 1) * 16
  *          - CropUnitX * (crop_left + crop_right)
  * height = (2 - frame_mbs_only_flag)
  *          * (pic_height_in_map_units_minus1 + 1) * 16
  *          - CropUnitY * (crop_top + crop_bottom)
  * }}}
  * with CropUnitX/Y = 2 / 2·(2−frame_mbs_only) for 4:2:0 chroma —
  * so every variable-length field BEFORE the dimension fields must
  * be walked exactly; one mis-sized Exp-Golomb read scrambles all
  * following values.
  *
  * Supported: Baseline/Main/Extended (66/77/88) and the
  * High-profile family's `chroma_format_idc`/bit-depth extension
  * block, `pic_order_cnt_type` 0/1/2, interlaced (`frame_mbs_only
  * = 0`) map-unit doubling, frame cropping, 4:2:0/4:2:2/4:4:4 and
  * monochrome crop units. Deliberately OUT of scope (None, never a
  * guess): scaling matrices (`seq_scaling_matrix_present = 1`) and
  * streams whose first SPS is malformed. Full SAMPLE decode (CABAC,
  * motion compensation) stays behind the declared stub in
  * [[Multimodal.StubCodec]] — this is the metadata path over
  * header-range reads.
  *
  * Reference: ISO/IEC 14496-10 §7.3.2.1 (seq_parameter_set_rbsp
  * syntax), public spec arithmetic reimplemented from scratch.
  */
object H264Headers {

  /** Profiles whose SPS carries the chroma/bit-depth extension
    * block (ISO 14496-10 §7.3.2.1.1 condition list). */
  private val HighProfiles = Set(100, 110, 122, 244, 44, 83, 86,
    118, 128, 138, 139, 134, 135)

  /** MSB-first bit reader over an unescaped RBSP. Throws
    * IndexOutOfBoundsException past the end — caller catches.
    * Shared with [[H264Pcm]]'s slice walk. */
  private[multimodal] final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit position
    def u1(): Int = {
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }
    def u(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | u1(); i += 1 }
      v
    }
    /** Unsigned Exp-Golomb. Bounded at 31 leading zeros — a longer
      * run is not a field any SPS carries, it is garbage. */
    def ue(): Int = {
      var z = 0
      while (u1() == 0) {
        z += 1
        if (z > 31) throw new IndexOutOfBoundsException("ue overflow")
      }
      (1 << z) - 1 + u(z)
    }
    /** Signed Exp-Golomb: k → ceil(k/2) with alternating sign. */
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
    /** Consume pcm_alignment_zero_bits up to the next byte boundary
      * (§7.3.5: they must be zero — enforced, malformed otherwise). */
    def alignZero(): Unit =
      while ((pos & 7) != 0) {
        if (u1() != 0)
          throw new IndexOutOfBoundsException("nonzero alignment bit")
      }
  }

  /** Strip emulation-prevention bytes: `00 00 03` → `00 00` (the
    * `03` is discarded, the following byte is payload). */
  private[multimodal] def unescapeRbsp(b: Array[Byte], from: Int,
      until: Int): Array[Byte] = {
    val out = new Array[Byte](until - from)
    var n = 0
    var i = from
    var zeros = 0
    while (i < until) {
      val v = b(i) & 0xff
      if (zeros >= 2 && v == 3) {
        zeros = 0 // escape byte: drop, reset the zero run
      } else {
        out(n) = b(i)
        n += 1
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Parse one SPS RBSP (already unescaped, NAL header excluded) →
    * (profile_idc, level_idc, width, height). None on malformed or
    * out-of-scope (scaling matrices) input. */
  private[multimodal] def parseSps(
      rbsp: Array[Byte]): Option[(Int, Int, Int, Int)] =
    try {
      val r = new BitReader(rbsp)
      val profile = r.u(8)
      r.u(8) // constraint_set flags + reserved_zero_2bits
      val level = r.u(8)
      r.ue() // seq_parameter_set_id
      var chromaIdc = 1 // 4:2:0 implied outside the high-profile block
      if (HighProfiles.contains(profile)) {
        chromaIdc = r.ue()
        if (chromaIdc == 3) r.u1() // separate_colour_plane_flag
        r.ue() // bit_depth_luma_minus8
        r.ue() // bit_depth_chroma_minus8
        r.u1() // qpprime_y_zero_transform_bypass_flag
        if (r.u1() == 1) return None // seq_scaling_matrix: out of scope
      }
      r.ue() // log2_max_frame_num_minus4
      val pocType = r.ue()
      if (pocType == 0) r.ue() // log2_max_pic_order_cnt_lsb_minus4
      else if (pocType == 1) {
        r.u1() // delta_pic_order_always_zero_flag
        r.se() // offset_for_non_ref_pic
        r.se() // offset_for_top_to_bottom_field
        val n = r.ue() // num_ref_frames_in_pic_order_cnt_cycle
        if (n > 255) return None
        var i = 0
        while (i < n) { r.se(); i += 1 }
      } else if (pocType > 2) return None
      r.ue() // max_num_ref_frames
      r.u1() // gaps_in_frame_num_value_allowed_flag
      val pwMbs = r.ue() + 1
      val phMapUnits = r.ue() + 1
      val frameMbsOnly = r.u1()
      if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field_flag
      r.u1() // direct_8x8_inference_flag
      var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
      if (r.u1() == 1) { // frame_cropping_flag
        cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue()
      }
      // §7.4.2.1.1: CropUnitX/Y from chroma format (SubWidthC/
      // SubHeightC); monochrome and 4:4:4 crop in luma samples
      val (subW, subH) = chromaIdc match {
        case 0 => (1, 1)
        case 1 => (2, 2)
        case 2 => (2, 1)
        case _ => (1, 1)
      }
      val cropUnitX = subW
      val cropUnitY = subH * (2 - frameMbsOnly)
      val width = pwMbs * 16 - cropUnitX * (cropL + cropR)
      val height = (2 - frameMbsOnly) * phMapUnits * 16 -
        cropUnitY * (cropT + cropB)
      if (width <= 0 || height <= 0) None
      else Some((profile, level, width, height))
    } catch {
      case _: IndexOutOfBoundsException => None
    }

  /** Annex-B walk: returns
    * (profile_idc, level_idc, width, height, n_nals) from the FIRST
    * SPS, with `n_nals` counting every NAL unit in the stream. None
    * when no start code leads the stream (after zero padding), no
    * SPS is present, or the first SPS is malformed. */
  def parse(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    if (b == null || b.length < 4) return None
    val n = b.length
    // NAL boundaries: positions AFTER each 00 00 01
    var starts = List.newBuilder[Int]
    var i = 0
    var zeros = 0
    while (i < n) {
      val v = b(i) & 0xff
      if (v == 1 && zeros >= 2) { starts += (i + 1); zeros = 0 }
      else if (v == 0) zeros += 1
      else zeros = 0
      i += 1
    }
    val ss = starts.result()
    if (ss.isEmpty) return None
    // stream must BEGIN with a start code (only zero_bytes before)
    val lead = ss.head - 3
    var j = 0
    while (j < lead) {
      if (b(j) != 0) return None
      j += 1
    }
    var sps: Option[(Int, Int, Int, Int)] = None
    var nNals = 0
    // each NAL ends where the next start code's 00 00 01 begins; a
    // 4-byte start code's extra zero_byte then trails the PREVIOUS
    // payload, which is harmless — trailing zero bytes are legal
    // RBSP padding and the SPS bit walk never reaches them
    val bounds = ss.zip(ss.drop(1).map(_ - 3) :+ n)
    bounds.foreach { case (s, e) =>
      if (s < n) {
        nNals += 1
        val hdr = b(s) & 0xff
        if ((hdr & 0x80) == 0 && (hdr & 0x1f) == 7 && sps.isEmpty)
          sps = parseSps(unescapeRbsp(b, s + 1, e))
      }
    }
    sps.map { case (p, l, w, h) => (p, l, w, h, nNals) }
  }

  /** The `parseRow` result row. */
  val parseRowType: StructType =
    row("profile_idc" -> IntegerType, "level_idc" -> IntegerType,
      "width" -> IntegerType, "height" -> IntegerType,
      "n_nals" -> IntegerType)

  /** [[parse]] as an `InternalRow` for the
    * `h264_sps` codegen path. Null = no parseable
    * SPS. */
  def parseRow(b: Array[Byte]): InternalRow = parse(b) match {
    case Some((p, l, w, h, nn)) => InternalRow(p, l, w, h, nn)
    case None => null
  }
}
