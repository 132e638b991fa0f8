package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

import graft.functions.NativeFn.row

/** REAL H.264 SAMPLE decode for PCM-coded pictures — the first
  * payload-decode rung of the video lane (the container/SPS walks in
  * [[VideoHeaders]]/[[H264Headers]] are metadata-only): walk the
  * Annex-B stream to the coded slice, parse the variable-length
  * slice header (§7.3.3) against the active SPS/PPS, then decode
  * every macroblock coded as `I_PCM` (mb_type 25, Table 7-11 /
  * §7.3.5 / §8.3.5) — raw luma and chroma samples carried
  * bit-exactly in the bitstream after `pcm_alignment_zero_bit`
  * padding, behind emulation-prevention escaping the reader must
  * strip. I_PCM is the standard's lossless escape hatch (rate
  * control emits it when a macroblock's entropy coding would exceed
  * the raw size), so a PCM-coded stream is a fully conformant H.264
  * video, and decoding it is genuine sample decode: one mis-walked
  * Exp-Golomb field, a missed alignment bit, or an unstripped `03`
  * escape byte scrambles every following sample.
  *
  * Scope (declared, never a guess — None otherwise): baseline-class
  * streams with `entropy_coding_mode = 0` (CAVLC), frame MBs only,
  * a single I slice starting at macroblock 0, and every macroblock
  * I_PCM. Predicted/transform-coded macroblocks (CAVLC residual,
  * intra prediction, motion compensation) remain behind the declared
  * stub in [[Multimodal.StubCodec]] — this narrows that stub's video
  * lane from "no sample decode" to "no entropy-coded sample decode".
  *
  * Reference: ISO/IEC 14496-10 §7.3.3 (slice_header), §7.3.5
  * (macroblock_layer), §8.3.5 (I_PCM decoding) — public spec
  * arithmetic reimplemented from scratch.
  */
object H264Pcm {

  import H264Headers.{BitReader, unescapeRbsp}

  /** Minimal SPS walk keeping the fields the slice header needs:
    * (log2_max_frame_num, pocType, log2_max_poc_lsb, width_mbs,
    * height_mbs). Baseline-class only; None out of scope. */
  private[multimodal] def spsForSlice(rbsp: Array[Byte])
      : Option[(Int, Int, Int, Int, Int)] =
    try {
      val r = new BitReader(rbsp)
      val profile = r.u(8)
      r.u(8); r.u(8) // constraint flags, level
      r.ue() // sps_id
      if (profile == 100 || profile == 110 || profile == 122 ||
          profile == 244 || profile == 44 || profile == 83 ||
          profile == 86 || profile == 118 || profile == 128)
        return None // high-profile block: PCM fixture never emits it
      val log2MaxFrameNum = r.ue() + 4
      val pocType = r.ue()
      var log2MaxPocLsb = 0
      if (pocType == 0) log2MaxPocLsb = r.ue() + 4
      else if (pocType != 2) return None
      r.ue() // max_num_ref_frames
      r.u1() // gaps_in_frame_num_value_allowed
      val wMbs = r.ue() + 1
      val hMapUnits = r.ue() + 1
      if (r.u1() != 1) return None // frame_mbs_only required
      r.u1() // direct_8x8_inference
      if (r.u1() == 1) return None // cropping: PCM fixture emits none
      Some((log2MaxFrameNum, pocType, log2MaxPocLsb, wMbs, hMapUnits))
    } catch { case _: IndexOutOfBoundsException => None }

  /** Minimal PPS walk: require CAVLC, no slice groups, no
    * bottom-field ordering, and capture the flags the slice header
    * branches on → (bottomFieldPresent, deblockingPresent,
    * redundantPresent). */
  private[multimodal] def ppsForSlice(rbsp: Array[Byte])
      : Option[(Boolean, Boolean, Boolean)] =
    try {
      val r = new BitReader(rbsp)
      r.ue(); r.ue() // pps_id, sps_id
      if (r.u1() != 0) return None // entropy_coding_mode: CAVLC only
      val bottomField = r.u1() == 1
      if (r.ue() != 0) return None // num_slice_groups_minus1
      r.ue(); r.ue() // num_ref_idx_l0/l1_default
      r.u1() // weighted_pred_flag
      r.u(2) // weighted_bipred_idc
      r.se(); r.se(); r.se() // pic_init_qp/qs, chroma_qp_offset
      val deblocking = r.u1() == 1
      r.u1() // constrained_intra_pred
      val redundant = r.u1() == 1
      Some((bottomField, deblocking, redundant))
    } catch { case _: IndexOutOfBoundsException => None }

  /** Per-macroblock decoded-sample statistics:
    * (mb_i, luma_sum, luma_min, luma_max, cbcr_sum). */
  final case class MbStats(mbI: Int, lumaSum: Long, lumaMin: Int,
      lumaMax: Int, cbcrSum: Long)

  /** Decode a PCM-coded Annex-B stream → (width, height, per-MB
    * stats). */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[MbStats])] = {
    if (b == null || b.length < 8) return None
    // NAL boundaries, same walk as H264Headers.parse
    val n = b.length
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
    val bounds = ss.zip(ss.drop(1).map(_ - 3) :+ n)
    var sps: Option[(Int, Int, Int, Int, Int)] = None
    var pps: Option[(Boolean, Boolean, Boolean)] = None
    var slice: Option[(Int, Int, Array[Byte])] = None
    bounds.foreach { case (s, e) =>
      if (s < n) {
        val hdr = b(s) & 0xff
        if ((hdr & 0x80) == 0) (hdr & 0x1f) match {
          case 7 if sps.isEmpty =>
            sps = spsForSlice(unescapeRbsp(b, s + 1, e))
          case 8 if pps.isEmpty =>
            pps = ppsForSlice(unescapeRbsp(b, s + 1, e))
          case t @ (1 | 5) if slice.isEmpty =>
            slice = Some((t, (hdr >> 5) & 3, unescapeRbsp(b, s + 1, e)))
          case _ =>
        }
      }
    }
    (sps, pps, slice) match {
      case (Some((log2Fn, pocType, log2Poc, wMbs, hMbs)),
          Some((bottomField, deblocking, redundant)),
          Some((nalType, refIdc, rbsp))) =>
        try {
          val r = new BitReader(rbsp)
          if (r.ue() != 0) return None // first_mb_in_slice
          val sliceType = r.ue()
          // I slice only (2 or the all-slices-I form 7)
          if (sliceType != 2 && sliceType != 7) return None
          r.ue() // pic_parameter_set_id
          r.u(log2Fn) // frame_num
          val idr = nalType == 5
          if (idr) r.ue() // idr_pic_id
          if (pocType == 0) {
            r.u(log2Poc) // pic_order_cnt_lsb
            if (bottomField) r.se() // delta_pic_order_cnt_bottom
          }
          if (redundant) r.ue() // redundant_pic_cnt
          // I slice: no ref pic list modification fields
          if (refIdc != 0) { // dec_ref_pic_marking
            if (idr) { r.u1(); r.u1() } // no_output, long_term flags
            else if (r.u1() == 1) return None // MMCO: out of scope
          }
          r.se() // slice_qp_delta
          if (deblocking) {
            val idc = r.ue() // disable_deblocking_filter_idc
            if (idc != 1) { r.se(); r.se() }
          }
          val nMbs = wMbs * hMbs
          val out = new Array[MbStats](nMbs)
          var mb = 0
          while (mb < nMbs) {
            if (r.ue() != 25) return None // mb_type: I_PCM only
            r.alignZero() // pcm_alignment_zero_bit*
            var lumaSum = 0L; var lumaMin = 255; var lumaMax = 0
            var k = 0
            while (k < 256) {
              val v = r.u(8)
              lumaSum += v
              if (v < lumaMin) lumaMin = v
              if (v > lumaMax) lumaMax = v
              k += 1
            }
            var cbcr = 0L
            k = 0
            while (k < 128) { cbcr += r.u(8); k += 1 } // 4:2:0 Cb, Cr
            out(mb) = MbStats(mb, lumaSum, lumaMin, lumaMax, cbcr)
            mb += 1
          }
          if (r.u1() != 1) return None // rbsp_stop_one_bit
          Some((wMbs * 16, hMbs * 16, out))
        } catch { case _: IndexOutOfBoundsException => None }
      case _ => None
    }
  }

  /** The `decodeRows` result array. */
  val decodeRowsType: ArrayType =
    ArrayType(row("mb_i" -> IntegerType, "luma_sum" -> LongType,
      "luma_min" -> IntegerType, "luma_max" -> IntegerType,
      "cbcr_sum" -> LongType, "width" -> IntegerType,
      "height" -> IntegerType),
      containsNull = false)

  /** [[decode]] as Catalyst rows for the
    * `h264_pcm_mbs` codegen path:
    * `array<struct<mb_i:int, luma_sum:bigint, luma_min:int,
    * luma_max:int, cbcr_sum:bigint, width:int, height:int>>`, null
    * when the stream is not a decodable PCM picture. */
  def decodeRows(b: Array[Byte]): ArrayData = decode(b) match {
    case Some((w, h, mbs)) =>
      new GenericArrayData(mbs.map(m => new GenericInternalRow(
        Array[Any](m.mbI, m.lumaSum, m.lumaMin, m.lumaMax, m.cbcrSum,
          w, h)): Any))
    case None => null
  }
}
