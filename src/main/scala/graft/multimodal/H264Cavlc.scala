package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructType}

import graft.functions.NativeFn.row

/** REAL H.264 CAVLC residual decode for chroma-DC-coded pictures —
  * the entropy rung above [[H264Pcm]]'s raw-sample one: walk the
  * Annex-B stream to the coded slice (same SPS/PPS/slice-header
  * machinery), then decode every macroblock coded as
  * `I_16x16_<pred>_1_0` (Table 7-11: chroma CBP 1 = DC only, luma
  * CBP 0) — the §9.2 CAVLC residual walk over the two 2×2 chroma DC
  * blocks per macroblock: coeff_token, trailing-one sign bits, the
  * §9.2.2 level prefix/suffix ladder with its suffixLength
  * adaptation, total_zeros, and run_before. One mis-walked codeword,
  * sign bit or run desynchronizes every following field and fails
  * closed at the rbsp trailing check.
  *
  * Two decodable classes, each with a fixed coeff_token column so
  * the nC neighbour machinery stays honest
  * ([[Mp3Headers.BvTable]] discipline: no codec in this container
  * to pin the constants against, so every table validates its own
  * Kraft completeness — exact, or up to a DECLARED count of
  * spec-unused leaves — and the fixture oracles replay the census
  * positionally):
  *
  *  - [[decode]] (chroma-DC lane): nC = −1 is FIXED for 4:2:0
  *    chroma DC, so only the small chroma-DC column is needed; the
  *    luma DC block is pinned empty (the 1-bit TotalCoeff-0
  *    codeword under nC = 0).
  *  - [[decodeLuma]] (luma-DC lane): the FULL 62-entry
  *    0 ≤ nC < 2 coeff_token column with real coefficients
  *    (TotalCoeff 0..16), the complete §9.2.2.1 level escape
  *    arithmetic (level_prefix 14 / 15 / ≥ 16), Tables 9-7/9-8
  *    total_zeros and the full run_before table — over one-MB-row
  *    pictures whose luma CBP is 0, where nC provably stays 0 (see
  *    [[decodeLuma]]).
  *  - [[decodeAc]] (luma-AC lane): luma CBP 15 pictures, where the
  *    §9.2.1 neighbour-nC machinery finally RUNS — sixteen
  *    Intra16x16ACLevel blocks per macroblock, each routed to its
  *    Table 9-5 column by the neighbours' decoded TotalCoeff
  *    (columns 0 ≤ nC < 2, 2 ≤ nC < 4 and the algorithmic nC ≥ 8
  *    six-bit FLC; 4 ≤ nC < 8 declared fail-closed, see
  *    [[residualBlockNc]]).
  *
  * Scope (declared, never a guess — None otherwise): baseline-class
  * CAVLC streams, frame MBs, a single I slice at macroblock 0,
  * every macroblock I_16x16 with luma CBP 0 and chroma CBP 1
  * (chroma lane) or 0 (luma lane) or luma CBP 15 / chroma CBP 0
  * (AC lane). Everything else — Intra_4x4, chroma AC, the
  * 4 ≤ nC < 8 Table 9-5 column, CABAC — remains behind the
  * declared stub.
  *
  * Reference: ISO/IEC 14496-10 §7.3.5 (macroblock_layer), §7.4.5
  * (Table 7-11 I_16x16 algebra), §9.2.1–9.2.4 (CAVLC parsing) —
  * public spec arithmetic reimplemented from scratch.
  */
object H264Cavlc {

  import H264Headers.{BitReader, unescapeRbsp}
  import Mp3Headers.BvTable // the (code, len, x, y) VLC container

  /** Chroma-DC coeff_token (Table 9-5, nC == −1 column): x =
    * TotalCoeff, y = TrailingOnes. Kraft/prefix-validated at load. */
  private[multimodal] val ChromaDcCoeffToken = new BvTable(0, Seq(
    (1, 2, 0, 0),
    (7, 6, 1, 0), (1, 1, 1, 1),
    (4, 6, 2, 0), (6, 6, 2, 1), (1, 3, 2, 2),
    (3, 6, 3, 0), (3, 7, 3, 1), (2, 7, 3, 2), (5, 6, 3, 3),
    (2, 6, 4, 0), (3, 8, 4, 1), (2, 8, 4, 2), (0, 7, 4, 3)))

  /** total_zeros for 2×2 chroma DC (Table 9-9(a)), by TotalCoeff
    * 1..3: x = total_zeros, y unused. */
  private[multimodal] val TotalZerosChromaDc: Map[Int, BvTable] = Map(
    1 -> new BvTable(0, Seq(
      (1, 1, 0, 0), (1, 2, 1, 0), (1, 3, 2, 0), (0, 3, 3, 0))),
    2 -> new BvTable(0, Seq(
      (1, 1, 0, 0), (1, 2, 1, 0), (0, 2, 2, 0))),
    3 -> new BvTable(0, Seq((1, 1, 0, 0), (0, 1, 1, 0))))

  /** run_before (Table 9-10) — the FULL table: columns zerosLeft
    * 1..6 plus the `> 6` column (key 7; run_before 0..14, one
    * spec-unused 11-bit leaf). The chroma-DC walk only ever reaches
    * zerosLeft ≤ 3; the luma-DC walk (total_zeros ≤ 15) needs the
    * rest. x = run_before. */
  private[multimodal] val RunBefore: Map[Int, BvTable] = Map(
    1 -> new BvTable(0, Seq((1, 1, 0, 0), (0, 1, 1, 0))),
    2 -> new BvTable(0, Seq(
      (1, 1, 0, 0), (1, 2, 1, 0), (0, 2, 2, 0))),
    3 -> new BvTable(0, Seq(
      (3, 2, 0, 0), (2, 2, 1, 0), (1, 2, 2, 0), (0, 2, 3, 0))),
    4 -> new BvTable(0, Seq(
      (3, 2, 0, 0), (2, 2, 1, 0), (1, 2, 2, 0), (1, 3, 3, 0),
      (0, 3, 4, 0))),
    5 -> new BvTable(0, Seq(
      (3, 2, 0, 0), (2, 2, 1, 0), (3, 3, 2, 0), (2, 3, 3, 0),
      (1, 3, 4, 0), (0, 3, 5, 0))),
    6 -> new BvTable(0, Seq(
      (3, 2, 0, 0), (0, 3, 1, 0), (1, 3, 2, 0), (3, 3, 3, 0),
      (2, 3, 4, 0), (5, 3, 5, 0), (4, 3, 6, 0))),
    7 -> new BvTable(0, Seq(
      (7, 3, 0, 0), (6, 3, 1, 0), (5, 3, 2, 0), (4, 3, 3, 0),
      (3, 3, 4, 0), (2, 3, 5, 0), (1, 3, 6, 0), (1, 4, 7, 0),
      (1, 5, 8, 0), (1, 6, 9, 0), (1, 7, 10, 0), (1, 8, 11, 0),
      (1, 9, 12, 0), (1, 10, 13, 0), (1, 11, 14, 0)),
      missingLeaves = 1))

  /** coeff_token, Table 9-5's 0 ≤ nC < 2 column — the FULL 62-entry
    * column (x = TotalCoeff 0..16, y = TrailingOnes): the one every
    * luma-DC block of this walk's picture class selects (top MB row
    * unavailable, left neighbour's block 5 uncoded ⇒ nC = 0, see
    * [[decodeLuma]]). Two spec-unused 16-bit leaves
    * (0x0000 and 0x0001) — declared, so the Kraft self-check still
    * binds the transcription exactly. */
  private[multimodal] val LumaCoeffToken01 = new BvTable(0, Seq(
    (1, 1, 0, 0),
    (5, 6, 1, 0), (1, 2, 1, 1),
    (7, 8, 2, 0), (4, 6, 2, 1), (1, 3, 2, 2),
    (7, 9, 3, 0), (6, 8, 3, 1), (5, 7, 3, 2), (3, 5, 3, 3),
    (7, 10, 4, 0), (6, 9, 4, 1), (5, 8, 4, 2), (3, 6, 4, 3),
    (7, 11, 5, 0), (6, 10, 5, 1), (5, 9, 5, 2), (4, 7, 5, 3),
    (15, 13, 6, 0), (6, 11, 6, 1), (5, 10, 6, 2), (4, 8, 6, 3),
    (11, 13, 7, 0), (14, 13, 7, 1), (5, 11, 7, 2), (4, 9, 7, 3),
    (8, 13, 8, 0), (10, 13, 8, 1), (13, 13, 8, 2), (4, 10, 8, 3),
    (15, 14, 9, 0), (14, 14, 9, 1), (9, 13, 9, 2), (4, 11, 9, 3),
    (11, 14, 10, 0), (10, 14, 10, 1), (13, 14, 10, 2),
    (12, 13, 10, 3),
    (15, 15, 11, 0), (14, 15, 11, 1), (9, 14, 11, 2),
    (12, 14, 11, 3),
    (11, 15, 12, 0), (10, 15, 12, 1), (13, 15, 12, 2),
    (8, 14, 12, 3),
    (15, 16, 13, 0), (1, 15, 13, 1), (9, 15, 13, 2),
    (12, 15, 13, 3),
    (11, 16, 14, 0), (14, 16, 14, 1), (13, 16, 14, 2),
    (8, 15, 14, 3),
    (7, 16, 15, 0), (10, 16, 15, 1), (9, 16, 15, 2),
    (12, 16, 15, 3),
    (4, 16, 16, 0), (6, 16, 16, 1), (5, 16, 16, 2),
    (8, 16, 16, 3)),
    missingLeaves = 2)

  /** coeff_token, Table 9-5's 2 ≤ nC < 4 column — the full 62-entry
    * column (x = TotalCoeff 0..16, y = TrailingOnes), selected when
    * the §9.2.1 neighbour census puts 2 ≤ (nA + nB + 1) >> 1 < 4.
    * Two spec-unused 14-bit leaves (the children of the unused
    * all-zero 13-bit node) — declared, so the Kraft self-check binds
    * the transcription exactly. */
  private[multimodal] val LumaCoeffToken23 = new BvTable(0, Seq(
    (3, 2, 0, 0),
    (11, 6, 1, 0), (2, 2, 1, 1),
    (7, 6, 2, 0), (7, 5, 2, 1), (3, 3, 2, 2),
    (7, 7, 3, 0), (10, 6, 3, 1), (9, 6, 3, 2), (5, 4, 3, 3),
    (7, 8, 4, 0), (6, 6, 4, 1), (5, 6, 4, 2), (4, 4, 4, 3),
    (4, 8, 5, 0), (6, 7, 5, 1), (5, 7, 5, 2), (6, 5, 5, 3),
    (7, 9, 6, 0), (6, 8, 6, 1), (5, 8, 6, 2), (8, 6, 6, 3),
    (15, 11, 7, 0), (6, 9, 7, 1), (5, 9, 7, 2), (4, 6, 7, 3),
    (11, 11, 8, 0), (14, 11, 8, 1), (13, 11, 8, 2), (4, 7, 8, 3),
    (15, 12, 9, 0), (10, 11, 9, 1), (9, 11, 9, 2), (4, 9, 9, 3),
    (11, 12, 10, 0), (14, 12, 10, 1), (13, 12, 10, 2),
    (12, 11, 10, 3),
    (8, 12, 11, 0), (10, 12, 11, 1), (9, 12, 11, 2),
    (8, 11, 11, 3),
    (15, 13, 12, 0), (14, 13, 12, 1), (13, 13, 12, 2),
    (12, 12, 12, 3),
    (11, 13, 13, 0), (10, 13, 13, 1), (9, 13, 13, 2),
    (12, 13, 13, 3),
    (7, 13, 14, 0), (11, 14, 14, 1), (6, 13, 14, 2),
    (8, 13, 14, 3),
    (9, 14, 15, 0), (8, 14, 15, 1), (10, 14, 15, 2),
    (1, 13, 15, 3),
    (7, 14, 16, 0), (6, 14, 16, 1), (5, 14, 16, 2),
    (4, 14, 16, 3)),
    missingLeaves = 2)

  /** total_zeros for 4×4-class blocks (Tables 9-7/9-8,
    * maxNumCoeff 16), by TotalCoeff 1..15: x = total_zeros. The
    * TotalCoeff-1 column leaves one 9-bit codeword (all zeros)
    * unused; every other column is Kraft-complete — each row's
    * closure is its own transcription witness. */
  private[multimodal] val TotalZeros4x4: Map[Int, BvTable] = Map(
    1 -> new BvTable(0, Seq(
      (1, 1, 0, 0), (3, 3, 1, 0), (2, 3, 2, 0), (3, 4, 3, 0),
      (2, 4, 4, 0), (3, 5, 5, 0), (2, 5, 6, 0), (3, 6, 7, 0),
      (2, 6, 8, 0), (3, 7, 9, 0), (2, 7, 10, 0), (3, 8, 11, 0),
      (2, 8, 12, 0), (3, 9, 13, 0), (2, 9, 14, 0), (1, 9, 15, 0)),
      missingLeaves = 1),
    2 -> new BvTable(0, Seq(
      (7, 3, 0, 0), (6, 3, 1, 0), (5, 3, 2, 0), (4, 3, 3, 0),
      (3, 3, 4, 0), (5, 4, 5, 0), (4, 4, 6, 0), (3, 4, 7, 0),
      (2, 4, 8, 0), (3, 5, 9, 0), (2, 5, 10, 0), (3, 6, 11, 0),
      (2, 6, 12, 0), (1, 6, 13, 0), (0, 6, 14, 0))),
    3 -> new BvTable(0, Seq(
      (5, 4, 0, 0), (7, 3, 1, 0), (6, 3, 2, 0), (5, 3, 3, 0),
      (4, 4, 4, 0), (3, 4, 5, 0), (4, 3, 6, 0), (3, 3, 7, 0),
      (2, 4, 8, 0), (3, 5, 9, 0), (2, 5, 10, 0), (1, 6, 11, 0),
      (1, 5, 12, 0), (0, 6, 13, 0))),
    4 -> new BvTable(0, Seq(
      (3, 5, 0, 0), (7, 3, 1, 0), (5, 4, 2, 0), (4, 4, 3, 0),
      (6, 3, 4, 0), (5, 3, 5, 0), (4, 3, 6, 0), (3, 4, 7, 0),
      (3, 3, 8, 0), (2, 4, 9, 0), (2, 5, 10, 0), (1, 5, 11, 0),
      (0, 5, 12, 0))),
    5 -> new BvTable(0, Seq(
      (5, 4, 0, 0), (4, 4, 1, 0), (3, 4, 2, 0), (7, 3, 3, 0),
      (6, 3, 4, 0), (5, 3, 5, 0), (4, 3, 6, 0), (3, 3, 7, 0),
      (2, 4, 8, 0), (1, 5, 9, 0), (1, 4, 10, 0), (0, 5, 11, 0))),
    6 -> new BvTable(0, Seq(
      (1, 6, 0, 0), (1, 5, 1, 0), (7, 3, 2, 0), (6, 3, 3, 0),
      (5, 3, 4, 0), (4, 3, 5, 0), (3, 3, 6, 0), (2, 3, 7, 0),
      (1, 4, 8, 0), (1, 3, 9, 0), (0, 6, 10, 0))),
    7 -> new BvTable(0, Seq(
      (1, 6, 0, 0), (1, 5, 1, 0), (5, 3, 2, 0), (4, 3, 3, 0),
      (3, 3, 4, 0), (3, 2, 5, 0), (2, 3, 6, 0), (1, 4, 7, 0),
      (1, 3, 8, 0), (0, 6, 9, 0))),
    8 -> new BvTable(0, Seq(
      (1, 6, 0, 0), (1, 4, 1, 0), (1, 5, 2, 0), (3, 3, 3, 0),
      (3, 2, 4, 0), (2, 2, 5, 0), (2, 3, 6, 0), (1, 3, 7, 0),
      (0, 6, 8, 0))),
    9 -> new BvTable(0, Seq(
      (1, 6, 0, 0), (0, 6, 1, 0), (1, 4, 2, 0), (3, 2, 3, 0),
      (2, 2, 4, 0), (1, 3, 5, 0), (1, 2, 6, 0), (1, 5, 7, 0))),
    10 -> new BvTable(0, Seq(
      (1, 5, 0, 0), (0, 5, 1, 0), (1, 3, 2, 0), (3, 2, 3, 0),
      (2, 2, 4, 0), (1, 2, 5, 0), (1, 4, 6, 0))),
    11 -> new BvTable(0, Seq(
      (0, 4, 0, 0), (1, 4, 1, 0), (1, 3, 2, 0), (2, 3, 3, 0),
      (1, 1, 4, 0), (3, 3, 5, 0))),
    12 -> new BvTable(0, Seq(
      (0, 4, 0, 0), (1, 4, 1, 0), (1, 2, 2, 0), (1, 1, 3, 0),
      (1, 3, 4, 0))),
    13 -> new BvTable(0, Seq(
      (0, 3, 0, 0), (1, 3, 1, 0), (1, 1, 2, 0), (1, 2, 3, 0))),
    14 -> new BvTable(0, Seq(
      (0, 2, 0, 0), (1, 2, 1, 0), (1, 1, 2, 0))),
    15 -> new BvTable(0, Seq((0, 1, 0, 0), (1, 1, 1, 0))))

  /** Walk one VLC: accumulate bits until (code, len) matches. −1 on
    * no match within the table's longest code. */
  private def vlc(r: BitReader, t: BvTable): Int = {
    var acc = 0; var n = 0
    while (n < t.maxLen) {
      acc = (acc << 1) | r.u1(); n += 1
      var e = 0
      while (e < t.code.length) {
        if (t.len(e) == n && t.code(e) == acc) return e
        e += 1
      }
    }
    -1
  }

  /** Per-block census: (totalCoeff, trailingOnes, nNeg, sumLevels,
    * totalZeros). */
  private[multimodal] final class Block {
    var tc = 0; var t1 = 0; var nNeg = 0L; var sum = 0L; var tz = 0
  }

  /** §9.2 residual_block_cavlc, generalized over the block class:
    * `tok` is the coeff_token table the caller's nC selects,
    * `maxCoeff` its maxNumCoeff (4 for 2×2 chroma DC, 16 for
    * Intra16x16DCLevel), `tz` its total_zeros table family. The
    * level ladder is the COMPLETE §9.2.2.1 arithmetic — suffixLength
    * init (1 when TotalCoeff > 10 ∧ TrailingOnes < 3), the
    * level_prefix = 14 / ≥ 15 escape suffixes, the ≥ 16 range
    * extension — with the two suffixLength adaptation clauses
    * applied sequentially. Null on desync or garbage (a level_prefix
    * past 25 cannot arise from any levelCode this census admits). */
  private[multimodal] def residualBlock(r: BitReader, tok: BvTable,
      maxCoeff: Int, tz: Map[Int, BvTable]): Block = {
    val e = vlc(r, tok)
    if (e < 0) return null
    residualBody(r, tok.xs(e), tok.ys(e), maxCoeff, tz)
  }

  /** The §9.2 residual walk AFTER coeff_token: trailing-one signs,
    * the complete §9.2.2.1 level ladder, total_zeros, run_before —
    * shared by every coeff_token route (VLC columns, the nC ≥ 8
    * 6-bit FLC, chroma DC). */
  private[multimodal] def residualBody(r: BitReader, tc: Int,
      t1: Int, maxCoeff: Int, tz: Map[Int, BvTable]): Block = {
    val b = new Block
    b.tc = tc
    b.t1 = t1
    // trailing-one signs (§9.2.2: 1 = negative)
    var j = 0
    while (j < b.t1) {
      if (r.u1() == 1) { b.nNeg += 1; b.sum -= 1 } else b.sum += 1
      j += 1
    }
    // remaining levels through the prefix/suffix ladder
    var sl = if (b.tc > 10 && b.t1 < 3) 1 else 0 // §9.2.2.1 init
    j = 0
    while (j < b.tc - b.t1) {
      var prefix = 0
      while (r.u1() == 0) {
        prefix += 1
        if (prefix > 25) return null // garbage, not a level
      }
      val suffixSize =
        if (prefix == 14 && sl == 0) 4
        else if (prefix >= 15) prefix - 3
        else sl
      var levelCode = (math.min(15, prefix) << sl) +
        (if (suffixSize > 0) r.u(suffixSize) else 0)
      if (prefix >= 15 && sl == 0) levelCode += 15
      if (prefix >= 16) levelCode += (1 << (prefix - 3)) - 4096
      if (j == 0 && b.t1 < 3) levelCode += 2
      val level =
        if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      if (level < 0) { b.nNeg += 1 }
      b.sum += level
      // §9.2.2 suffixLength adaptation — the two clauses apply
      // SEQUENTIALLY (JM: two independent ifs): a first level with
      // |level| > 3 bumps 0 → 1 → 2 before the next level reads
      if (sl == 0) sl = 1
      if (math.abs(level) > (3 << (sl - 1)) && sl < 6) sl += 1
      j += 1
    }
    // total_zeros (absent when the block is empty or full)
    if (b.tc > 0 && b.tc < maxCoeff) {
      val tzT = tz.getOrElse(b.tc, null)
      if (tzT == null) return null
      val te = vlc(r, tzT)
      if (te < 0) return null
      b.tz = tzT.xs(te)
      // the shared 4×4-class tables cover 0..16−tc; a maxNumCoeff-15
      // block (Intra16x16ACLevel) can hold at most 15−tc zeros — a
      // decoded excess is non-conformant, fail closed
      if (b.tz > maxCoeff - b.tc) return null
    }
    // run_before per coefficient (all but the last); zerosLeft > 6
    // selects the `> 6` column, whose runs can exceed what is left —
    // fail closed on overdraw
    var zerosLeft = b.tz
    var i = 0
    while (i < b.tc - 1 && zerosLeft > 0) {
      val rt = RunBefore.getOrElse(math.min(zerosLeft, 7), null)
      if (rt == null) return null
      val re = vlc(r, rt)
      if (re < 0) return null
      zerosLeft -= rt.xs(re)
      if (zerosLeft < 0) return null
      i += 1
    }
    b
  }

  /** §9.2 residual_block_cavlc for one 2×2 chroma DC block
    * (nC = −1, maxNumCoeff 4). Null outside the decodable class. */
  private[multimodal] def chromaDcBlock(r: BitReader): Block =
    residualBlock(r, ChromaDcCoeffToken, 4, TotalZerosChromaDc)

  /** §9.2 residual_block_cavlc routed by nC (§9.2.1's Table 9-5
    * column selection): the 0 ≤ nC < 2 and 2 ≤ nC < 4 VLC columns
    * are transcribed under the Kraft gate; nC ≥ 8 is the spec's
    * 6-bit FIXED-length code — coeff_token = 4·(TotalCoeff−1) +
    * TrailingOnes with 000011 re-used for the empty block (purely
    * algorithmic, no memorized constants; the two coding holes
    * (1,2)/(2,3) fail closed through the T1 ≤ min(TC,3) rule). The
    * 4 ≤ nC < 8 column is DECLARED fail-closed: a from-memory
    * transcription was internally inconsistent before it reached the
    * Kraft gate and was discarded rather than iterated (the MP3-ESC
    * discipline, [[Mp3Headers.bigvaluesInfo]]) — a stream whose
    * neighbour census lands there returns null. */
  private[multimodal] def residualBlockNc(r: BitReader, nC: Int,
      maxCoeff: Int): Block = {
    var tc = 0; var t1 = 0
    if (nC >= 8) {
      val v = r.u(6)
      if (v == 3) { tc = 0; t1 = 0 }
      else { tc = (v >> 2) + 1; t1 = v & 3 }
      if (t1 > tc) return null // the (1,2)/(2,3) holes
    } else if (nC >= 4) {
      return null // declared fail-closed column
    } else {
      val tok = if (nC < 2) LumaCoeffToken01 else LumaCoeffToken23
      val e = vlc(r, tok)
      if (e < 0) return null
      tc = tok.xs(e); t1 = tok.ys(e)
    }
    if (tc > maxCoeff) return null
    residualBody(r, tc, t1, maxCoeff, TotalZeros4x4)
  }

  /** §6.4.10.4 neighbour derivation for luma4x4BlkIdx, transcribed
    * as index arrays (the fixture derives the same relation from
    * raster coordinates, and the oracle SQL holds a third,
    * relational, spelling — three independent derivations):
    * `LeftBlk(b)` is the within-MB left neighbour (−1 = the MB's
    * left edge, where `LeftEdge(b)` gives the LEFT macroblock's
    * x = 12 column block); `TopBlk(b)` the within-MB top neighbour
    * (−1 = the MB's top row — the PICTURE edge in this lane's
    * one-MB-row class, so unavailable). */
  private[multimodal] val LeftBlk =
    Array(-1, 0, -1, 2, 1, 4, 3, 6, -1, 8, -1, 10, 9, 12, 11, 14)
  private[multimodal] val LeftEdge =
    Array(5, -1, 7, -1, -1, -1, -1, -1, 13, -1, 15, -1, -1, -1, -1,
      -1)
  private[multimodal] val TopBlk =
    Array(-1, -1, 0, 1, -1, -1, 4, 5, 2, 3, 8, 9, 6, 7, 12, 13)

  /** nC of AC block `b` (§9.2.1): the mean-rounded-up of the
    * available neighbours' AC TotalCoeff, the single one when only
    * one is available, 0 at the picture corner. `cur` holds the
    * current MB's decoded AC TCs, `prev` the left MB's (null at
    * mb 0). */
  private def acNc(b: Int, cur: Array[Int], prev: Array[Int]): Int = {
    val hasA = LeftBlk(b) >= 0 || prev != null
    val nA =
      if (LeftBlk(b) >= 0) cur(LeftBlk(b))
      else if (prev != null) prev(LeftEdge(b))
      else 0
    val hasB = TopBlk(b) >= 0
    val nB = if (hasB) cur(TopBlk(b)) else 0
    if (hasA && hasB) (nA + nB + 1) >> 1
    else if (hasA) nA
    else if (hasB) nB
    else 0
  }

  /** Walk the Annex-B NAL units to the coded slice and consume its
    * header: returns (width in MBs, height in MBs, reader positioned
    * at the first macroblock_layer). Shared by the chroma-DC and
    * luma-DC lanes. */
  private def sliceSetup(b: Array[Byte])
      : Option[(Int, Int, BitReader)] = {
    if (b == null || b.length < 8) return None
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
            sps = H264Pcm.spsForSlice(unescapeRbsp(b, s + 1, e))
          case 8 if pps.isEmpty =>
            pps = H264Pcm.ppsForSlice(unescapeRbsp(b, s + 1, e))
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
        val r = new BitReader(rbsp)
        if (r.ue() != 0) return None // first_mb_in_slice
        val sliceType = r.ue()
        if (sliceType != 2 && sliceType != 7) return None
        r.ue() // pic_parameter_set_id
        r.u(log2Fn) // frame_num
        val idr = nalType == 5
        if (idr) r.ue() // idr_pic_id
        if (pocType == 0) {
          r.u(log2Poc)
          if (bottomField) r.se()
        }
        if (redundant) r.ue()
        if (refIdc != 0) {
          if (idr) { r.u1(); r.u1() }
          else if (r.u1() == 1) return None
        }
        r.se() // slice_qp_delta
        if (deblocking) {
          val idc = r.ue()
          if (idc != 1) { r.se(); r.se() }
        }
        Some((wMbs, hMbs, r))
      case _ => None
    }
  }

  /** Decode a chroma-DC-coded Annex-B stream →
    * (n_mbs, n_coeffs, n_t1, n_neg, sum_levels, sum_tz). */
  def decode(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long, Long)] =
    try {
      sliceSetup(b) match {
        case None => None
        case Some((wMbs, hMbs, r)) =>
          val nMbs = wMbs * hMbs
          var nCoeffs = 0L; var nT1 = 0L; var nNeg = 0L
          var sumLevels = 0L; var sumTz = 0L
          var mb = 0
          while (mb < nMbs) {
            val mbt = r.ue()
            // Table 7-11 I_16x16 algebra: mbt−1 = pred + 4·cbpC
            // (+12 when luma CBP is 15); admit chroma CBP 1 /
            // luma CBP 0 only
            if (mbt < 5 || mbt > 8) return None
            val icp = r.ue() // intra_chroma_pred_mode
            if (icp > 3) return None
            r.se() // mb_qp_delta (always present for I_16x16)
            // Intra16x16DCLevel under nC = 0: this lane's class is
            // the empty block, whose Table 9-5 codeword is `1`
            if (r.u1() != 1) return None
            var u = 0
            while (u < 2) { // Cb then Cr chroma DC blocks
              val blk = chromaDcBlock(r)
              if (blk == null) return None
              nCoeffs += blk.tc; nT1 += blk.t1; nNeg += blk.nNeg
              sumLevels += blk.sum; sumTz += blk.tz
              u += 1
            }
            mb += 1
          }
          if (r.u1() != 1) return None // rbsp_stop_one_bit
          Some((nMbs.toLong, nCoeffs, nT1, nNeg, sumLevels, sumTz))
      }
    } catch { case _: IndexOutOfBoundsException => None }

  /** Decode a LUMA-DC-coded Annex-B stream — every macroblock
    * I_16x16_<pred>_0_0 (Table 7-11: chroma CBP 0, luma CBP 0), so
    * the only residual block per macroblock is Intra16x16DCLevel,
    * decoded through the FULL Table 9-5 0 ≤ nC < 2 column with real
    * coefficients (TotalCoeff 0..16), the complete §9.2.2.1 level
    * escape arithmetic, total_zeros over Tables 9-7/9-8, and the
    * full run_before table.
    *
    * Why nC = 0 holds for EVERY macroblock of this class, honestly
    * tracked: the picture is one macroblock row (no top
    * neighbours), and Intra16x16DCLevel's nC derives as for luma
    * 4×4 block 0, whose left neighbour is the left macroblock's
    * block 5 — an Intra16x16ACLevel position that is NEVER decoded
    * under luma CBP 0, so its TotalCoeff is 0 by §9.2.1's
    * uncoded-block rule. The DC block's own TotalCoeff can be
    * anything without leaving the column. Multi-row pictures (where
    * block 10 of a top neighbour would raise nC) are outside this
    * class and fail closed at the SPS geometry.
    *
    * Returns (n_mbs, n_coeffs, n_t1, n_neg, sum_levels, sum_tz). */
  def decodeLuma(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long, Long)] =
    try {
      sliceSetup(b) match {
        case None => None
        case Some((wMbs, hMbs, r)) =>
          // nC = 0 needs the top MB row ABSENT: one-row pictures only
          if (hMbs != 1) return None
          val nMbs = wMbs
          var nCoeffs = 0L; var nT1 = 0L; var nNeg = 0L
          var sumLevels = 0L; var sumTz = 0L
          var mb = 0
          while (mb < nMbs) {
            val mbt = r.ue()
            // mbt−1 = pred + 4·cbpC: admit chroma CBP 0 / luma CBP 0
            if (mbt < 1 || mbt > 4) return None
            val icp = r.ue() // intra_chroma_pred_mode
            if (icp > 3) return None
            r.se() // mb_qp_delta (always present for I_16x16)
            val blk = residualBlock(r, LumaCoeffToken01, 16,
              TotalZeros4x4)
            if (blk == null) return None
            nCoeffs += blk.tc; nT1 += blk.t1; nNeg += blk.nNeg
            sumLevels += blk.sum; sumTz += blk.tz
            mb += 1
          }
          if (r.u1() != 1) return None // rbsp_stop_one_bit
          Some((nMbs.toLong, nCoeffs, nT1, nNeg, sumLevels, sumTz))
      }
    } catch { case _: IndexOutOfBoundsException => None }

  /** The `decodeRow` result row. */
  val decodeRowType: StructType =
    row("n_mbs" -> LongType, "n_coeffs" -> LongType, "n_t1" -> LongType,
      "n_neg" -> LongType, "sum_levels" -> LongType, "sum_tz" -> LongType)

  /** [[decode]] as an `InternalRow` for the
    * `h264_cavlc` codegen path. Null = not a
    * chroma-DC-CAVLC-decodable stream. */
  def decodeRow(b: Array[Byte]): InternalRow = decode(b) match {
    case Some((nm, nc, t1, nn, sl, tz)) =>
      InternalRow(nm, nc, t1, nn, sl, tz)
    case None => null
  }

  /** Decode the COMBINED-residual Annex-B class — every macroblock
    * I_16x16_<pred>_1_0 (chroma CBP 1 / luma CBP 0) whose
    * macroblock_layer carries BOTH block classes in sequence: a
    * REAL luma-DC block (full 0 ≤ nC < 2 column, escapes, 4×4
    * total_zeros — luma CBP 0 only gates the AC blocks; the
    * I_16x16 DC block is always coded) followed by the two chroma
    * DC blocks. The region boundary between the classes is implicit
    * in the codeword widths — a slip in either walk desynchronizes
    * the other (the `mm_mp3_part3` sequencing discipline). The
    * nC = 0 argument is [[decodeLuma]]'s (one MB row, AC neighbours
    * uncoded). Returns (n_mbs, n_luma, luma_sum, n_chroma,
    * chroma_sum, n_neg, sum_tz). */
  def decodeFull(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long, Long, Long)] =
    try {
      sliceSetup(b) match {
        case None => None
        case Some((wMbs, hMbs, r)) =>
          if (hMbs != 1) return None
          var nLuma = 0L; var lumaSum = 0L
          var nChroma = 0L; var chromaSum = 0L
          var nNeg = 0L; var sumTz = 0L
          var mb = 0
          while (mb < wMbs) {
            val mbt = r.ue()
            if (mbt < 5 || mbt > 8) return None
            val icp = r.ue()
            if (icp > 3) return None
            r.se() // mb_qp_delta
            val lb = residualBlock(r, LumaCoeffToken01, 16,
              TotalZeros4x4)
            if (lb == null) return None
            nLuma += lb.tc; lumaSum += lb.sum; nNeg += lb.nNeg
            sumTz += lb.tz
            var u = 0
            while (u < 2) {
              val cb = chromaDcBlock(r)
              if (cb == null) return None
              nChroma += cb.tc; chromaSum += cb.sum; nNeg += cb.nNeg
              sumTz += cb.tz
              u += 1
            }
            mb += 1
          }
          if (r.u1() != 1) return None // rbsp_stop_one_bit
          Some((wMbs.toLong, nLuma, lumaSum, nChroma, chromaSum,
            nNeg, sumTz))
      }
    } catch { case _: IndexOutOfBoundsException => None }

  /** The `decodeFullRow` result row. */
  val decodeFullRowType: StructType =
    row("n_mbs" -> LongType, "n_luma" -> LongType, "luma_sum" -> LongType,
      "n_chroma" -> LongType, "chroma_sum" -> LongType, "n_neg" -> LongType,
      "sum_tz" -> LongType)

  /** [[decodeFull]] as an `InternalRow` for the
    * `h264_cavlc_full` codegen path. */
  def decodeFullRow(b: Array[Byte]): InternalRow = decodeFull(b) match {
    case Some((nm, nl, ls, nc, cs, nn, tz)) =>
      InternalRow(nm, nl, ls, nc, cs, nn, tz)
    case None => null
  }

  /** The `decodeLumaRow` result row. */
  val decodeLumaRowType: StructType = decodeRowType

  /** [[decodeLuma]] as an `InternalRow` for the
    * `h264_cavlc_luma` codegen path. Null = not
    * a luma-DC-CAVLC-decodable stream. */
  def decodeLumaRow(b: Array[Byte]): InternalRow = decodeLuma(b) match {
    case Some((nm, nc, t1, nn, sl, tz)) =>
      InternalRow(nm, nc, t1, nn, sl, tz)
    case None => null
  }

  /** Decode a luma-AC-coded Annex-B stream — every macroblock
    * I_16x16_<pred>_0_1 (Table 7-11: chroma CBP 0, luma CBP 15), so
    * each macroblock_layer codes Intra16x16DCLevel (maxNumCoeff 16)
    * then SIXTEEN Intra16x16ACLevel blocks (maxNumCoeff 15) in
    * luma4x4BlkIdx order — the first lane where the §9.2.1
    * neighbour-nC machinery RUNS: every decoded block's TotalCoeff
    * feeds later blocks' Table 9-5 column selection through the
    * §6.4.10.4 neighbour derivation (left crosses macroblock
    * boundaries; top is the picture edge in this one-MB-row class),
    * so a single mis-decoded TotalCoeff reroutes a later block to
    * the wrong column and desynchronizes the stream. The DC block
    * derives nC as for block 0 (left MB's block 5); a neighbouring
    * block's count is its AC TotalCoeff — the DC census is carried
    * separately and never enters nC (JM's nz-coeff semantics).
    * Routes through the 0 ≤ nC < 2 / 2 ≤ nC < 4 columns and the
    * nC ≥ 8 FLC; the declared 4 ≤ nC < 8 column fails closed
    * ([[residualBlockNc]]).
    *
    * Returns (n_mbs, n_dc, dc_sum, n_ac, ac_sum, n_t1, n_neg,
    * sum_tz, sum_nc) — sum_nc totals every residual block's derived
    * nC, pinning the neighbour arithmetic itself against the
    * oracle's independent relational spelling. */
  def decodeAc(b: Array[Byte]): Option[(Long, Long, Long, Long,
      Long, Long, Long, Long, Long)] =
    try {
      sliceSetup(b) match {
        case None => None
        case Some((wMbs, hMbs, r)) =>
          // top neighbours must be the picture edge: one MB row only
          if (hMbs != 1) return None
          var nDc = 0L; var dcSum = 0L; var nAc = 0L; var acSum = 0L
          var nT1 = 0L; var nNeg = 0L; var sumTz = 0L; var sumNc = 0L
          var prev: Array[Int] = null
          var mb = 0
          while (mb < wMbs) {
            val mbt = r.ue()
            // Table 7-11: mbt−1 = pred + 4·cbpC + 12·[cbpL = 15];
            // admit luma CBP 15 / chroma CBP 0 only
            if (mbt < 13 || mbt > 16) return None
            val icp = r.ue() // intra_chroma_pred_mode
            if (icp > 3) return None
            r.se() // mb_qp_delta
            val dcNc = if (prev == null) 0 else prev(5)
            sumNc += dcNc
            val dcB = residualBlockNc(r, dcNc, 16)
            if (dcB == null) return None
            nDc += dcB.tc; dcSum += dcB.sum; nT1 += dcB.t1
            nNeg += dcB.nNeg; sumTz += dcB.tz
            val cur = new Array[Int](16)
            var blk = 0
            while (blk < 16) {
              val nc = acNc(blk, cur, prev)
              sumNc += nc
              val ab = residualBlockNc(r, nc, 15)
              if (ab == null) return None
              cur(blk) = ab.tc
              nAc += ab.tc; acSum += ab.sum; nT1 += ab.t1
              nNeg += ab.nNeg; sumTz += ab.tz
              blk += 1
            }
            prev = cur
            mb += 1
          }
          if (r.u1() != 1) return None // rbsp_stop_one_bit
          Some((wMbs.toLong, nDc, dcSum, nAc, acSum, nT1, nNeg,
            sumTz, sumNc))
      }
    } catch { case _: IndexOutOfBoundsException => None }

  /** The `decodeAcRow` result row. */
  val decodeAcRowType: StructType =
    row("n_mbs" -> LongType, "n_dc" -> LongType, "dc_sum" -> LongType,
      "n_ac" -> LongType, "ac_sum" -> LongType, "n_t1" -> LongType,
      "n_neg" -> LongType, "sum_tz" -> LongType, "sum_nc" -> LongType)

  /** [[decodeAc]] as an `InternalRow` for the
    * `h264_cavlc_ac` codegen path. Null = not a
    * luma-AC-CAVLC-decodable stream. */
  def decodeAcRow(b: Array[Byte]): InternalRow = decodeAc(b) match {
    case Some((nm, nd, ds, na, as_, t1, nn, tz, nc)) =>
      InternalRow(nm, nd, ds, na, as_, t1, nn, tz, nc)
    case None => null
  }

  /** §9.2.1 neighbours of chroma4x4BlkIdx in the 4:2:0 2×2 chroma
    * grid (per component): within-MB left/top index, −1 = the MB
    * edge — left crosses to the LEFT macroblock's x = 1 column
    * (`CLeftEdge`), top is the picture edge in the one-MB-row
    * class. */
  private[multimodal] val CLeftBlk = Array(-1, 0, -1, 2)
  private[multimodal] val CLeftEdge = Array(1, -1, 3, -1)
  private[multimodal] val CTopBlk = Array(-1, -1, 0, 1)

  /** nC of chroma AC block `c` of one component — the 2×2-grid
    * twin of [[acNc]]. */
  private def chromaAcNc(c: Int, cur: Array[Int],
      prev: Array[Int]): Int = {
    val hasA = CLeftBlk(c) >= 0 || prev != null
    val nA =
      if (CLeftBlk(c) >= 0) cur(CLeftBlk(c))
      else if (prev != null) prev(CLeftEdge(c))
      else 0
    val hasB = CTopBlk(c) >= 0
    val nB = if (hasB) cur(CTopBlk(c)) else 0
    if (hasA && hasB) (nA + nB + 1) >> 1
    else if (hasA) nA
    else if (hasB) nB
    else 0
  }

  /** Decode the COMPLETE I_16x16 macroblock_layer residual — every
    * macroblock I_16x16_<pred>_2_1 (Table 7-11: chroma CBP 2, luma
    * CBP 15), whose residual (§7.3.5.3.3) carries EVERY block class
    * this picture family codes, all real, in one bitstream:
    * Intra16x16DCLevel (maxNumCoeff 16, nC from the left MB's luma
    * block 5), SIXTEEN Intra16x16ACLevel blocks (neighbour-routed
    * Table 9-5 columns, [[decodeAc]]'s machinery), TWO ChromaDCLevel
    * blocks (the fixed nC = −1 column, [[decode]]'s machinery), and
    * EIGHT ChromaACLevel blocks (Cb's four then Cr's four,
    * maxNumCoeff 15, nC over the per-component 2×2 chroma grid with
    * left crossing macroblocks). Neighbour censuses never mix
    * classes: luma AC TCs feed luma nC, each component's chroma AC
    * TCs feed that component's chroma nC, DC counts feed nothing
    * (JM's nz-coeff semantics).
    *
    * Returns (n_mbs, luma_dc, luma_ac, chroma_dc, chroma_ac,
    * sum_levels, n_t1, n_neg, sum_tz, sum_nc) — counts per class,
    * the level/t1/neg/tz census over ALL classes, and sum_nc over
    * every neighbour-DERIVED nC (luma DC + luma AC + chroma AC; the
    * chroma DC column is fixed, not derived). */
  def decodeMb(b: Array[Byte]): Option[(Long, Long, Long, Long,
      Long, Long, Long, Long, Long, Long)] =
    try {
      sliceSetup(b) match {
        case None => None
        case Some((wMbs, hMbs, r)) =>
          if (hMbs != 1) return None
          var lumaDc = 0L; var lumaAc = 0L
          var chromaDc = 0L; var chromaAc = 0L
          var sumLv = 0L; var nT1 = 0L; var nNeg = 0L
          var sumTz = 0L; var sumNc = 0L
          var prev: Array[Int] = null
          var prevC: Array[Array[Int]] = null
          var mb = 0
          while (mb < wMbs) {
            val mbt = r.ue()
            // mbt−1 = pred + 4·2 + 12: chroma CBP 2 / luma CBP 15
            if (mbt < 21 || mbt > 24) return None
            val icp = r.ue() // intra_chroma_pred_mode
            if (icp > 3) return None
            r.se() // mb_qp_delta
            val dcNc = if (prev == null) 0 else prev(5)
            sumNc += dcNc
            val dcB = residualBlockNc(r, dcNc, 16)
            if (dcB == null) return None
            lumaDc += dcB.tc; sumLv += dcB.sum; nT1 += dcB.t1
            nNeg += dcB.nNeg; sumTz += dcB.tz
            val cur = new Array[Int](16)
            var blk = 0
            while (blk < 16) {
              val nc = acNc(blk, cur, prev)
              sumNc += nc
              val ab = residualBlockNc(r, nc, 15)
              if (ab == null) return None
              cur(blk) = ab.tc
              lumaAc += ab.tc; sumLv += ab.sum; nT1 += ab.t1
              nNeg += ab.nNeg; sumTz += ab.tz
              blk += 1
            }
            var u = 0
            while (u < 2) { // ChromaDCLevel: Cb then Cr
              val cb = chromaDcBlock(r)
              if (cb == null) return None
              chromaDc += cb.tc; sumLv += cb.sum; nT1 += cb.t1
              nNeg += cb.nNeg; sumTz += cb.tz
              u += 1
            }
            val curC = Array.ofDim[Int](2, 4)
            u = 0
            while (u < 2) { // ChromaACLevel: Cb's grid then Cr's
              var c = 0
              while (c < 4) {
                val nc = chromaAcNc(c, curC(u),
                  if (prevC == null) null else prevC(u))
                sumNc += nc
                val ca = residualBlockNc(r, nc, 15)
                if (ca == null) return None
                curC(u)(c) = ca.tc
                chromaAc += ca.tc; sumLv += ca.sum; nT1 += ca.t1
                nNeg += ca.nNeg; sumTz += ca.tz
                c += 1
              }
              u += 1
            }
            prev = cur
            prevC = curC
            mb += 1
          }
          if (r.u1() != 1) return None // rbsp_stop_one_bit
          Some((wMbs.toLong, lumaDc, lumaAc, chromaDc, chromaAc,
            sumLv, nT1, nNeg, sumTz, sumNc))
      }
    } catch { case _: IndexOutOfBoundsException => None }

  /** The `decodeMbRow` result row. */
  val decodeMbRowType: StructType =
    row("n_mbs" -> LongType, "luma_dc" -> LongType, "luma_ac" -> LongType,
      "chroma_dc" -> LongType, "chroma_ac" -> LongType,
      "sum_levels" -> LongType, "n_t1" -> LongType, "n_neg" -> LongType,
      "sum_tz" -> LongType, "sum_nc" -> LongType)

  /** [[decodeMb]] as an `InternalRow` for the
    * `h264_cavlc_mb` codegen path. */
  def decodeMbRow(b: Array[Byte]): InternalRow = decodeMb(b) match {
    case Some((nm, ld, la, cd, ca, sl, t1, nn, tz, nc)) =>
      InternalRow(nm, ld, la, cd, ca, sl, t1, nn, tz, nc)
    case None => null
  }
}
