package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The rolling-hash kernel ([[CdcBoundaries]]) must compute exactly
  * the boundary set of the unrolled per-position Column fold
  * (`CdcChunks.foldHashCol`) — the fold is the oracle's SQL spelling,
  * so this spec is the no-drift proof between the O(len) execution
  * kernel and the O(len·W·len) reference shape. */
class CdcBoundariesSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  // adversarial strings: sub-window, exactly window-sized, window+1,
  // codepoints above ASCII (kernel counts codepoints, not chars),
  // long pseudo-random text, and a repeated block (periodic hash)
  private def synth(seed: Long, n: Int): String = {
    var x = seed
    val sb = new StringBuilder
    while (sb.length < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      sb += ('!' + ((x >>> 40) % 90)).toChar
    }
    sb.toString
  }
  private val texts = Seq(
    "", "a", "x" * graft.llm.CdcChunks.W,
    "y" * (graft.llm.CdcChunks.W + 1),
    synth(3L, 600), synth(11L, 257),
    ("héllo wörld ünïcode × " + synth(17L, 80)) * 3,
    synth(23L, 40) * 12)

  test("rolling kernel == unrolled fold on every position") {
    val s = spark
    import s.implicits._
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val W = graft.llm.CdcChunks.W
    val foldCuts = docs
      .filter(length(col("text")) >= W + 1)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(2L),
          length(col("text")).cast("long") - (W - 1))).as("i"))
      .filter(graft.llm.CdcChunks.foldHashCol
        % graft.llm.CdcChunks.D === graft.llm.CdcChunks.R)
      .select(col("doc_id"), col("i"))
      .as[(Long, Long)].collect().toSet
    val kernelCuts = docs
      .select(col("doc_id"),
        explode(NativeFunctions.cdcBoundaries(col("text"))).as("i"))
      .as[(Long, Long)].collect().toSet
    assert(kernelCuts === foldCuts)
    assert(kernelCuts.nonEmpty, "fixture must actually cut")
  }
}
