package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeFunctions

/** §9.2.4 LPC-subframe decode ([[AudioHeaders.parseFlacPcm]]) pinned
  * on HAND-ASSEMBLED bitstreams — coefficient precision/shift header
  * walk, signed coefficient reads, the all-integer prediction
  * recurrence — independent of [[FlacFixture.streamLpc]]'s encoder;
  * plus negative-coefficient sign extension, the invalid-precision
  * and negative-shift fail-closed boundary, and the encoder/decoder/
  * closed-form triangle across orders, precisions, shifts and both
  * Rice methods. */
class FlacLpcSpec extends AnyFunSuite {

  private def head(ch: Int, total: Int, rate: Int = 44100)
      : Array[Byte] = {
    val b = new Array[Byte](42)
    b(0) = 'f'; b(1) = 'L'; b(2) = 'a'; b(3) = 'C'
    b(4) = 0x80.toByte; b(7) = 34
    b(18) = (rate >> 12).toByte
    b(19) = ((rate >> 4) & 0xff).toByte
    b(20) = (((rate & 0xf) << 4) | ((ch - 1) << 1) | 0).toByte
    b(21) = 0xf0.toByte // bits-1 = 15
    b(22) = (total >> 24).toByte; b(23) = ((total >> 16) & 0xff).toByte
    b(24) = ((total >> 8) & 0xff).toByte; b(25) = (total & 0xff).toByte
    b
  }

  private def bits(s: String): Array[Byte] = {
    val b = s.replaceAll("[^01]", "")
    assert(b.length % 8 == 0, s"${b.length} bits not byte-aligned")
    b.grouped(8).map(x => Integer.parseInt(x, 2).toByte).toArray
  }

  private def frameHdr(ch: Int, ns: Int): String = {
    def b8(v: Int) = (0 until 8).map(k => (v >> (7 - k)) & 1).mkString
    "11111111 11111000 01100000 " + b8((ch - 1) << 4) +
      " 00000000 " + b8(ns - 1) + " 00000000"
  }

  test("hand-built order-1 LPC: precision/shift/coefficient walk + " +
    "shifted recurrence") {
    // samples [5, 7, 6], coef [3] (4-bit), shift 1:
    //   pred(1) = (3·5)>>1 = 7  → r = 0  → zigzag 0
    //   pred(2) = (3·7)>>1 = 10 → r = −4 → zigzag 7
    // Rice param 2: u=0 → q=0 rem 00; u=7 → q=1 rem 11
    val payload = head(1, 3) ++ bits(
      frameHdr(1, 3) +
        " 0 100000 0" + // pad | LPC order 1 (1xxxxx, x=order−1) | no wasted
        " 00000000 00000101" + // warm-up 5 (16-bit)
        " 0011" + // coefficient precision − 1 = 3 → 4-bit coefs
        " 00001" + // quantization shift 1
        " 0011" + // coef c0 = +3
        " 00 0000 0010" + // method 0 | partition order 0 | param 2
        " 1 00" + // r=0 → zigzag 0: q=0, rem 00
        " 01 11" + // r=−4 → zigzag 7: q=1, rem 11
        " 00" + // zero alignment padding
        " 00000000 00000000") // CRC-16
    val Some((ch, rate, bitsW, nv, ssq, pk, cl)) =
      AudioHeaders.parseFlacPcm(payload)
    assert((ch, rate, bitsW, nv) == ((1, 44100, 16, 3L)))
    assert(ssq == 25L + 49 + 36 && pk == 7 && cl == 0L)
  }

  test("hand-built order-2 LPC with a NEGATIVE coefficient: " +
    "two's-complement sign extension at the declared precision") {
    // samples [4, 5, 6], coef [2, −1] (3-bit: 010, 111), shift 0:
    //   pred(2) = 2·5 − 1·4 = 6 → r = 0 → zigzag 0 → param 0: q=0
    val payload = head(1, 3) ++ bits(
      frameHdr(1, 3) +
        " 0 100001 0" + // LPC order 2
        " 00000000 00000100" + // warm-up 4
        " 00000000 00000101" + // warm-up 5
        " 0010" + // precision − 1 = 2 → 3-bit coefs
        " 00000" + // shift 0
        " 010 111" + // c0 = +2, c1 = −1
        " 00 0000 0000" + // method 0 | p=0 | param 0
        " 1" + // r=0: q=0, no remainder bits at param 0
        " 000000" + // padding
        " 00000000 00000000")
    val Some((_, _, _, nv, ssq, pk, _)) =
      AudioHeaders.parseFlacPcm(payload)
    assert(nv == 3L && ssq == 16L + 25 + 36 && pk == 6)
  }

  test("fail-closed: invalid coefficient precision (1111) and " +
    "negative quantization shift") {
    // precision-minus-1 = 15 is invalid per §9.2.4
    val badPrec = head(1, 3) ++ bits(
      frameHdr(1, 3) +
        " 0 100000 0 00000000 00000101" +
        " 1111" + " 00001 0011 000000000000" +
        " 0000000 00000000 00000000")
    assert(AudioHeaders.parseFlacPcm(badPrec).isEmpty)
    // shift 10000 (two's-complement −16): negative shifts unused
    val badShift = head(1, 3) ++ bits(
      frameHdr(1, 3) +
        " 0 100000 0 00000000 00000101" +
        " 0011" + " 10000" + " 0011 00000000" +
        " 00000000000 00000000 00000000")
    assert(AudioHeaders.parseFlacPcm(badShift).isEmpty)
  }

  test("encoder/decoder/closed-form triangle: streamLpc decodes to " +
    "the sampleL formula meter across orders, precisions, shifts " +
    "and both Rice methods") {
    for (docId <- 0L to 23L) { // 4 orders × 2 methods × 3 precisions
      val (ch, ns) = (FlacFixture.chOf(docId), FlacFixture.nsOf(docId))
      val expected = for {
        c <- 0 until ch; i <- 0 until ns
      } yield FlacFixture.sampleL(docId, c, i)
      val Some((gch, grate, _, nv, ssq, pk, cl)) =
        AudioHeaders.parseFlacPcm(FlacFixture.streamLpc(docId))
      assert(gch == ch && grate == FlacFixture.rateOf(docId))
      assert(nv == expected.size.toLong, s"doc $docId")
      assert(ssq == expected.map(v => v * v).sum, s"doc $docId")
      assert(pk == expected.max && cl == 0L, s"doc $docId")
    }
  }

  test("the codegen fixture expression and the decoder kernel agree " +
    "with the direct call through a real plan") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val df = Seq(3L, 7L, 12L).toDF("doc_id")
      .withColumn("payload",
        NativeFunctions.flacLpcFixture(org.apache.spark.sql.functions
          .col("doc_id")))
      .withColumn("m",
        NativeFunctions.flacPcmLevels(org.apache.spark.sql.functions
          .col("payload")))
      .select("doc_id", "m.n_values", "m.sum_sq")
    val got = df.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (docId <- Seq(3L, 7L, 12L)) {
      val Some((_, _, _, nv, ssq, _, _)) =
        AudioHeaders.parseFlacPcm(FlacFixture.streamLpc(docId))
      assert(got(docId) == ((nv, ssq)), s"doc $docId")
    }
  }
}
