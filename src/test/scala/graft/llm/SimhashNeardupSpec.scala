package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The banded SimHash near-dup's recall GUARANTEE and its
  * degenerate-bucket guard.
  *
  * Recall: with 4 bands over 64 bits, a pair within hamming distance
  * 3 can corrupt at most 3 bands, so at least one band agrees
  * exactly — banding is a pigeonhole certainty, not an
  * approximation. The output is a reduced edge set (identical-
  * signature groups collapse to a rep STAR; the banded join runs on
  * distinct signatures only), so the property proven is: every
  * all-pairs hamming ≤ 3 doc pair is either inside one star or its
  * two reps are directly paired — and the emitted edge set equals
  * the independently-computed expectation exactly.
  *
  * Scale guard: ≥10k identical-signature docs must produce O(k) star
  * rows and a banded-join input bounded by SIGNATURE diversity,
  * never a k² in-bucket enumeration. */
class SimhashNeardupSpec extends AnyFunSuite {

  private def hamming(va: Vector[Long], vb: Vector[Long]): Long =
    va.zip(vb).map { case (x, y) =>
      java.lang.Long.bitCount(x ^ y) }.sum.toLong

  test("banded output = star edges per identical-signature group + " +
    "distinct-signature pairs at hamming<=3; every all-pairs " +
    "hamming<=3 doc pair stays connected (recall 1 by pigeonhole) " +
    "on the real sf0.001 corpus") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val banded = LlmQueries.queries("llm_simhash_neardup")(s, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // independent expectation from the memoized signature table
    val sigs = graft.SnapshotMemo
      .getOrCompute[DataFrame](s, s"simhash64:$d")(
        sys.error("must be memoized"))
      .collect().map(r => (r.getLong(0),
        (1 to 4).map(k => r.getLong(k)).toVector))
    val rep = sigs.groupBy(_._2).map { case (_, g) =>
      g.map(_._1).min -> g.map(_._1).sorted }
    val expStars = (for {
      (r0, members) <- rep.toSeq
      m <- members if m != r0
    } yield (r0, m, 0L)).toSet
    val repSigs = sigs.filter { case (id, _) => rep.contains(id) }
    val expRepPairs = (for {
      (ia, va) <- repSigs
      (ib, vb) <- repSigs
      if ia < ib
      h = hamming(va, vb)
      if h <= 3
    } yield (ia, ib, h)).toSet
    assert(banded == (expStars ++ expRepPairs) && banded.nonEmpty)
    // recall 1: every brute-force hamming<=3 doc pair is inside one
    // star or its reps are directly paired
    val repOf: Map[Long, Long] = rep.iterator
      .flatMap { case (r0, ms) => ms.map(m => (m, r0)) }.toMap
    val brute = for {
      (ia, va) <- sigs
      (ib, vb) <- sigs
      if ia < ib && hamming(va, vb) <= 3
    } yield (ia, ib)
    assert(brute.forall { case (x, y) =>
      val (rx, ry) = (repOf(x), repOf(y))
      rx == ry ||
        expRepPairs.contains((rx min ry, rx max ry,
          hamming(sigs.find(_._1 == x).get._2,
            sigs.find(_._1 == y).get._2)))
    })
  }

  test("adversarial degenerate bucket: 10k identical docs collapse " +
    "to one signature — star output is O(k), the banded join input " +
    "is bounded by signature diversity, recall preserved") {
    val s = TestSpark.spark
    val dir = java.nio.file.Files
      .createTempDirectory("simhash-degen").toString
    val n = 10000
    import s.implicits._
    // 10k byte-identical boilerplate docs + 5 distinct docs
    val distinct = Seq(
      "alpha beta gamma delta epsilon zeta", "eta theta iota kappa",
      "lambda mu nu xi omicron pi", "rho sigma tau upsilon",
      "phi chi psi omega alef bet gimel")
    val rows = (0L until n.toLong).map(i =>
      (i, "the same boilerplate disclaimer text appears verbatim " +
        "in every scraped page of this degenerate site", "en",
        "web", 97L)) ++
      distinct.zipWithIndex.map { case (t, i) =>
        (n.toLong + i, t, "en", "web", t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmQueries.queries("llm_simhash_neardup")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // star edges: rep 0 → members 1..9999 at hamming 0, never the
    // ~50M pairwise enumeration
    val stars = out.filter(_._3 == 0L)
      .filter { case (a, b, _) => a == 0L && b < n }
    assert(stars.length == n - 1)
    assert(out.length < 2L * n) // O(k) stars + a few distinct pairs
    // the banded join's input is distinct signatures only: every
    // (band, value) bucket holds at most n_distinct_signatures rows
    val reps = LlmQueries.simhashReps(s, dir)
    val nSigs = reps.count()
    assert(nSigs <= distinct.length + 1)
    val maxBucket = reps
      .select(col("rep").as("doc_id"),
        explode(expr("array(struct(0 AS band, v0 AS bv), " +
          "struct(1 AS band, v1 AS bv), struct(2 AS band, v2 AS bv), " +
          "struct(3 AS band, v3 AS bv))")).as("x"))
      .groupBy(col("x.band"), col("x.bv"))
      .agg(count(lit(1)).as("sz"))
      .agg(max(col("sz"))).collect()(0).getLong(0)
    assert(maxBucket <= nSigs)
  }
}
