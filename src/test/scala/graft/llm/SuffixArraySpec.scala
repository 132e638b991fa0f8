package graft.llm

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Suffix-array family vs brute force on a handcrafted corpus. The
  * brute force materializes the sentinel-concatenated string and
  * sorts real (bounded) suffixes — the formulation the engine's
  * prefix-doubling rank tables exist to avoid, so agreement checks
  * the whole construction: shift joins, -1 missing-shift sentinel,
  * densification, tie-breaks, island merging, LCP lifting.
  *
  * The fixture deliberately includes a doc SHORTER than the 31-char
  * one-lookahead bound the DuckDB oracle relies on: the engine is
  * fully general (rank composition never assumes document lengths),
  * and this is where that generality is pinned.
  */
class SuffixArraySpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private val docsFixture: Seq[(Long, String)] = Seq(
    // 0/1 share a 40-char block (one maximal span each, len >= 40)
    (0L, "the quick brown fox jumps over the lazy dog once more XXXXX"),
    (1L, "prefix then the quick brown fox jumps over the lazy dog tail"),
    // periodic text: overlapping duplicated 32-grams, one long island
    (2L, "abcdefgh" * 12),
    // short doc (< 31 chars) — breaks the oracle's lookahead bound,
    // must NOT break the engine
    (3L, "tiny little document"),
    // exact duplicate pair: every in-range position duplicated
    (4L, "exact copy pair with forty-plus characters in it 123456"),
    (5L, "exact copy pair with forty-plus characters in it 123456"),
    (6L, "wholly unique text qwertyuiop zxcvbnm 0987654321 unique")
  )

  // wide codes: characters >= 232 make the depth-8 base overflow the
  // direct 8-digit pack, so this corpus runs the prefix-doubling
  // schedule at every depth and the plcpLift LCP path
  private val wideFixture: Seq[(Long, String)] = Seq(
    (0L, "café crème brûlée — naïve façade über señor ω € once more"),
    (1L, "prefix then café crème brûlée — naïve façade über señor tail"),
    (2L, "αβγδεζηθ" * 12),
    (3L, "tiny ünïcode doc"),
    (4L, "exact copy pair ∑ with forty-plus characters ñ in it 123456"),
    (5L, "exact copy pair ∑ with forty-plus characters ñ in it 123456"),
    (6L, "wholly unique text ψχφυτσ qwertyuiop zxcvbnm 0987654321 ok")
  )

  /** A corpus written as a documents table, with its brute force. */
  private class Fixture(docs: Seq[(Long, String)]) {
    lazy val dir: String = {
      val d = Files.createTempDirectory("sa-fixture").toFile.getAbsolutePath
      val s = spark
      import s.implicits._
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }

    // ---- brute force ----------------------------------------------
    val ordered = docs.sortBy(_._1)
    val corpus: String = ordered.map(_._2 + "\u0001").mkString
    private val offsets: Seq[(Long, Long, Int)] = { // (docId, off, len)
      var off = 0L
      ordered.map { case (id, t) =>
        val r = (id, off, t.length); off += t.length + 1; r
      }
    }
    def docOf(gpos: Long): (Long, Long) = {
      val (id, off, len) = offsets.find { case (_, off, len) =>
        gpos >= off && gpos <= off + len }.get
      (id, gpos - off + 1)
    }
    def suffix(g: Int): String =
      corpus.substring(g, math.min(g + Depth, corpus.length))
    val bruteOrder: Seq[Int] =
      (0 until corpus.length).sortBy(g => (suffix(g), g))
  }

  private val Depth = SuffixArray.Depth
  private val ascii = new Fixture(docsFixture)
  private val wide = new Fixture(wideFixture)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def checkSaRanked(fx: Fixture): Unit = {
    val got = SuffixArray.saRanked(spark, fx.dir)
      .select("sa_rank", "doc_id", "lpos")
    val want = fx.bruteOrder.zipWithIndex.map { case (g, r) =>
      val (id, lpos) = fx.docOf(g.toLong)
      Seq[Any](r.toLong, id, lpos)
    }.toSet
    assert(rows(got) === want)
  }

  private def checkExactSubstr(fx: Fixture): Unit = {
    val L = SuffixArray.SpanL
    val gramCount = fx.ordered.flatMap { case (_, t) =>
      (0 to t.length - L).map(i => t.substring(i, i + L))
    }.groupBy(identity).map { case (g, v) => g -> v.size }
    val dupStarts = fx.ordered.flatMap { case (id, t) =>
      (0 to t.length - L).collect {
        case i if gramCount(t.substring(i, i + L)) > 1 =>
          (id, i + 1L) // 1-based lpos
      }
    }
    val want = dupStarts.groupBy(_._1).flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      // islands of consecutive starts
      val islands = sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      islands.map { case (s0, e0) =>
        Seq[Any](id, s0, e0 - s0 + L)
      }
    }.toSet
    val got = SuffixArray.exactSubstr(spark, fx.dir)
    assert(rows(got) === want)
    assert(want.exists(_(2).asInstanceOf[Long] > L),
      "fixture must produce a span longer than L (merged island)")
  }

  private def checkLcpHistogram(fx: Fixture): Unit = {
    def lcp(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
    val want = fx.bruteOrder.sliding(2).map { case Seq(a, b) =>
      math.min(lcp(fx.suffix(a), fx.suffix(b)), Depth.toLong)
    }.toSeq.groupBy(identity).map { case (l, v) =>
      Seq[Any](l, v.size.toLong)
    }.toSet
    assert(rows(SuffixArray.lcpHistogram(spark, fx.dir)) === want)
  }

  test("saRanked equals the brute-force bounded suffix order, " +
      "including a sub-lookahead-length document") {
    checkSaRanked(ascii)
  }

  test("rank-level equality means bounded-substring equality at " +
      "every power-of-two depth") {
    val corpus = ascii.corpus
    for (d <- Seq(1, 2, 4, 8, 16, 32)) {
      val ranks = SuffixArray.rankLevel(spark, ascii.dir, d)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def sub(g: Int) =
        corpus.substring(g, math.min(g + d, corpus.length))
      // group positions by engine rank; each group must hold exactly
      // the positions sharing that bounded substring, in rank order
      val byRank = (0 until corpus.length).groupBy(g => ranks(g.toLong))
      byRank.foreach { case (_, gs) =>
        assert(gs.map(sub).distinct.size == 1,
          s"depth $d: one rank spans distinct substrings")
      }
      val rankOrder = byRank.toSeq.sortBy(_._1).map(_._2.head).map(sub)
      assert(rankOrder == rankOrder.sorted,
        s"depth $d: rank order disagrees with substring order")
    }
  }

  test("exactSubstr equals brute-force maximal duplicated spans") {
    checkExactSubstr(ascii)
  }

  test("lcpHistogram equals brute-force adjacent-pair LCPs") {
    checkLcpHistogram(ascii)
  }

  test("wide-code corpus (chars >= 232, no direct depth-8 pack): " +
      "saRanked, exactSubstr and lcpHistogram equal the brute force") {
    assert(wide.corpus.exists(_ >= 232) &&
      wide.corpus.forall(c => !Character.isSurrogate(c)))
    checkSaRanked(wide)
    checkExactSubstr(wide)
    checkLcpHistogram(wide)
  }

  test("denseRank assigns contiguous order-preserving ranks") {
    val s = spark
    import s.implicits._
    val keys = Seq(40L, 7L, 7L, -1L, 99L, 0L).distinct
      .map(Tuple1(_)).toDF("k")
    val ranked = SuffixArray.denseRank(keys, Seq("k"), "r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(ranked.map(_._2).toSeq == (0L until ranked.length).toSeq)
    assert(ranked.map(_._1).toSeq == ranked.map(_._1).sorted.toSeq)
  }

  test("oracle precondition fails loudly: every driver fixture doc " +
    "is >= 31 chars (the one-document-lookahead soundness bound)") {
    // the llm_suffix_array / llm_sa_lcp oracles build each 32-char
    // window with a SINGLE-document lookahead — sound only while a
    // window crosses at most one sentinel, i.e. min doc length >= 31.
    // The engine itself has no such bound (pinned above on a short
    // doc); this guards the ORACLE's precondition so a future
    // fixture with a short document fails here, not via confusing
    // oracle drift.
    import org.apache.spark.sql.functions.{length, min, col}
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf/documents.parquet"
      if (new java.io.File(s"/root/testdata/$sf").exists) {
        val m = spark.read.parquet(dir)
          .agg(min(length(col("text")))).head.getInt(0)
        assert(m >= 31, s"$sf min doc length $m < 31 — the SA " +
          "oracles' one-document lookahead is unsound; regenerate " +
          "the fixture or generalize the oracle lookahead")
      }
    }
  }

  test("positions frees its corpus-text checkpoint: every RDD the " +
    "build leaves persisted is a memoized artifact without `text`") {
    val fx = new Fixture(docsFixture) // own dir, so nothing is memoized yet
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pos = SuffixArray.positions(spark, fx.dir)
    val added = sc.getPersistentRDDs.keySet -- before
    // the build memoizes two artifacts: the corpus length and positions
    val memo = Seq(pos, graft.SnapshotMemo.getOrCompute(spark,
      s"sa-len:${fx.dir}")(fail("corpus length was not memoized")))
    val leaves = memo.flatMap(_.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id })
    assert(added === leaves.toSet)
    assert(memo.forall(!_.columns.contains("text")))
  }
}
