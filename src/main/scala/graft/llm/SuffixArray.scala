package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Fixpoint, SnapshotMemo, Tables}

/** Distributed bounded-depth suffix array over the document corpus,
  * built by PREFIX DOUBLING (Manber–Myers), plus the two classic
  * consumers a training-data pipeline wants on top of it:
  * Lee et al. 2022 "Deduplicating Training Data Makes Language
  * Models Better" ExactSubstr duplicate-span extraction, and the
  * LCP profile of the suffix order.
  *
  * Reference anchor: the reference pipeline's set-semantics dedup is
  * rdflib's triple-set behavior (export_from_omeka_s.py:50); the
  * engine's dedup family generalizes it to content dedup, and this
  * module upgrades the k-gram span approximation (`llm_dup_spans`)
  * to the exact suffix-order formulation.
  *
  * Layout (the r18 optimization; before/after plans in plans/r18):
  * every position-scale table carries `block = gpos div B` and is
  * checkpointed hash-partitioned by `block`, sorted by
  * `(block, gpos)`. LogicalRDD preserves outputPartitioning and
  * outputOrdering, so
  *
  *  - every gpos-keyed join is written on `(block, gpos)`: the hash
  *    partitioning on `block` (a prefix of the join keys) satisfies
  *    the join's clustered distribution and the pinned sort
  *    satisfies its ordering — the sort-merge join runs with NO
  *    exchange and NO sort on the clustered side(s);
  *  - the CONSTANT-SHIFT lookups the doubling rounds are made of
  *    (rank at gpos+d) stop being self-joins at all: gpos is dense
  *    (one row per corpus character), so `lead(rank, d)` over the
  *    partition-local `(block) ORDER BY gpos` window is the shifted
  *    value, with the d boundary rows per block (the positions whose
  *    target falls in the next block) patched from a broadcast of
  *    the next blocks' first d rows ("halo" rows — d·nblocks ≈ a few
  *    thousand rows at any scale, since nblocks tracks the cluster
  *    width, not the corpus).
  *
  * The r17 layout paid, per doubling level, one exchange+sort of the
  * shifted side plus one redundant repartition+sort before the
  * checkpoint; measured (OPTIMIZATION_r18.md) the whole SA
  * family was ~15 position-scale exchange+sort+checkpoint cycles for
  * ~34 s cold at sf0.1, with each atomic op ~1 s. The window+halo
  * form removes every per-level exchange.
  *
  * Shape, for 100 TB (unchanged):
  *  - The corpus is the virtual string S = concat(text_i || 0x01)
  *    over doc_id order; one row per character position, never
  *    materialized as a string.
  *  - rank_d tables (one per power-of-two depth d ≤ Depth) are the
  *    only state: rank_d(i) = rank of substr(S, i, d) among all
  *    positions, with EXACT substring-order semantics (shorter
  *    suffixes sort first via the missing-shift -1 sentinel).
  *  - Pack/densify alternation: a doubling round only needs an
  *    ORDER-PRESERVING single number per (rank, rank2) key — when
  *    the incoming ranks are bounded by B₀ the arithmetic pack
  *    r1·(B₀+2) + (r2+2) preserves the pair's lexicographic order as
  *    a pure MAP; packed ranks are ~B₀², so the next level densifies
  *    (range sort + partition-offset numbering). The packability
  *    test is on the actual bound, so corpora with wide char codes
  *    degrade to densify-every-round by themselves.
  *  - Document offsets are assigned by range-partitioned prefix
  *    sums (partition-local running sum + an exclusive prefix over
  *    the per-partition totals, collected — bounded by the partition
  *    count): no single-partition global window at any scale.
  */
object SuffixArray {
  /** Bounded suffix-compare depth (chars); power of two. */
  val Depth = 32
  /** ExactSubstr duplicate-span threshold (chars); ≤ Depth. */
  val SpanL = 32
  /** Sampling modulus for the oracle-facing SA dump. */
  val SampleMod = 199

  /** Every SA artifact builds under a scoped AQE-off
    * ([[graft.LoopConf.noAqe]]): under AQE, `Dataset.localCheckpoint`
    * captures the adaptive plan's partitioning as
    * `UnknownPartitioning` and its ordering as empty (measured,
    * OPTIMIZATION_r18.md) — so a "pinned" block-clustered checkpoint
    * silently loses its layout and EVERY downstream window/zipper
    * join re-exchanges and re-sorts the corpus. With AQE off during
    * the build, the LogicalRDD carries hash(block)/[block, gpos ASC]
    * and the no-exchange design actually plans that way. The builds'
    * widths are already data-derived (sizedCompute), so AQE has
    * nothing else to offer them. */
  private def build[A](s: SparkSession)(body: => A): A =
    graft.LoopConf.noAqe(s)(body)

  // ----------------------------------------------------------------
  // Block geometry. B (chars per block) and P (cluster width) derive
  // from the measured corpus length: P is the sizedCompute width
  // (executor-parallelism floor, data-derived past it) and B targets
  // ~8 blocks per partition so hash placement stays balanced. B is
  // required ≥ 64 > every shift the module uses (≤ 24), so a shifted
  // value is always either partition-local or in the next block's
  // halo.
  // ----------------------------------------------------------------
  private def corpusLen(s: SparkSession, d: String): Long =
    SnapshotMemo.getOrCompute(s, s"sa-len:$d")(
      Tables(s, d, "documents")
        .agg(coalesce(sum(length(col("text")).cast(LongType) + 1L),
          lit(0L)).as("n")).head.getLong(0))

  private def widthFor(s: SparkSession, n: Long): Int =
    math.max(s.sparkContext.defaultParallelism, graft.LoopConf.partsFor(n))

  private def blockFor(n: Long, p: Int): Long =
    math.max(64L, n / (8L * p) + 1L)

  private def geom(s: SparkSession, d: String): (Long, Int) = {
    val n = corpusLen(s, d)
    val p = widthFor(s, n)
    (blockFor(n, p), p)
  }

  /** One exchange into the canonical block clustering; the following
    * checkpoint pins it for every downstream zipper join / window. */
  private def clusterByBlock(df: DataFrame, p: Int): DataFrame =
    df.repartition(p, col("block"))
      .sortWithinPartitions("block", "gpos")

  /** Shifted-value lookup WITHOUT a join: for each requested shift d,
    * adds column `name(d)` = `valueCol` at gpos+d (null past the
    * corpus end). Partition-local `lead` over the pinned
    * (block, gpos) order — no exchange, no sort — plus one broadcast
    * halo join per shift for the d boundary rows per block whose
    * target lives in the next block. Requires the input clustered by
    * block and gpos-dense (one row per corpus position). */
  private def withShifted(df: DataFrame, valueCol: String,
      shifts: Seq[Int], b: Long, name: Int => String): DataFrame = {
    val w = Window.partitionBy("block").orderBy("gpos")
    val led = shifts.foldLeft(df)((acc, dd) =>
      acc.withColumn(s"_w$dd", lead(col(valueCol), dd).over(w)))
    shifts.foldLeft(led) { (acc, dd) =>
      val heads = df.filter(pmod(col("gpos"), lit(b)) < dd)
        .select((col("gpos") - dd).as("gpos"),
          col(valueCol).as(s"_h$dd"))
      acc.join(broadcast(heads), Seq("gpos"), "left")
        .withColumn(name(dd), coalesce(col(s"_w$dd"), col(s"_h$dd")))
        .drop(s"_w$dd", s"_h$dd")
    }
  }

  // ----------------------------------------------------------------
  // Position table: one row per character of the virtual corpus
  // string, sentinel 0x01 rows included (lpos = dlen + 1), clustered
  // by block. Document offsets come from a range-partitioned prefix
  // sum: partition-local running totals plus the exclusive prefix of
  // per-partition sums (collected — one row per partition, bounded
  // by the cluster width, never by the document count).
  // ----------------------------------------------------------------
  private[llm] def positions(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"sa-pos:$d") { build(s) {
      val (b, p) = geom(s, d)
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast(LongType).as("dlen"))
      // pin the range placement so the per-partition totals and the
      // main pass see the same pid ↔ row assignment
      val rangedChk = docs
        .repartitionByRange(math.max(2, s.sparkContext.defaultParallelism),
          col("doc_id"))
        .sortWithinPartitions("doc_id")
        .localCheckpoint()
      val ranged = rangedChk.withColumn("_pid", spark_partition_id())
      val pidTotals = ranged.groupBy(col("_pid"))
        .agg(sum(col("dlen") + 1L).as("_t"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val pidOffs = pidTotals.map { case (pid, t) =>
        val r = (pid, acc); acc += t; r
      }.toSeq
      import s.implicits._
      val offDf = pidOffs.toDF("_pid", "_poff")
      val wp = Window.partitionBy("_pid").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = ranged.join(broadcast(offDf), Seq("_pid"))
        .withColumn("off",
          col("_poff") + coalesce(sum(col("dlen") + 1L).over(wp), lit(0L)))
      // per-character codes via ONE split of the (sentinel-appended)
      // text into a char array + posexplode. split('') emits a
      // trailing empty-string artifact (Java regex split semantics)
      // — dropped by the i <= dlen filter; the appended 0x01 char
      // lands at i = dlen with ascii = 1, the sentinel row.
      val out = Fixpoint.disk(clusterByBlock(offs
        .select(col("doc_id"), col("dlen"), col("off"),
          posexplode(split(concat(col("text"), lit("\u0001")), ""))
            .as(Seq("i", "ch")))
        .filter(col("i") <= col("dlen"))
        .select(
          col("doc_id"), col("dlen"),
          (col("i") + 1).cast(LongType).as("lpos"),
          (col("off") + col("i")).as("gpos"),
          ascii(col("ch")).cast(LongType).as("code"))
        .withColumn("block", expr(s"gpos div ${b}L")), p))
      // `ranged` holds the full corpus text; the eager checkpoint
      // above no longer needs it
      Fixpoint.free(rangedChk)
      out
    } }

  // ----------------------------------------------------------------
  // Order-preserving dense rank WITHOUT a single-partition window:
  // range-repartition on the key, sort within partitions, then
  // assign contiguous indices by partition offset — entirely in the
  // DataFrame world. monotonically_increasing_id() over the PINNED
  // sorted checkpoint is (partition_id · 2^33 + row_index) in block
  // row order, so subtracting the partition base and adding the
  // exclusive prefix sum of partition counts (bounded by the
  // partition count, collected) yields exactly the contiguous
  // numbering. Input rows must be distinct on keyCols.
  // ----------------------------------------------------------------
  private[llm] def denseRank(df: DataFrame, keyCols: Seq[String],
      out: String): DataFrame = {
    val sorted = Fixpoint.disk(df
      .repartitionByRange(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*))
    val withId = sorted
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mid", monotonically_increasing_id())
    val counts = withId.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offRows = counts.map { case (p, c) =>
      val r = (p, acc); acc += c; r
    }.toSeq
    import sorted.sparkSession.implicits._
    val offDf = offRows.toDF("_pid", "_off")
    withId.join(broadcast(offDf), Seq("_pid"))
      .select(df.columns.map(col) :+
        (col("_mid") - col("_pid").cast(LongType) * lit(1L << 33) +
          col("_off")).as(out): _*)
  }

  // ----------------------------------------------------------------
  // rank_d tables. Invariant (spec-pinned): rank_d(i) = rank_d(j)
  // ⟺ substr(S, i, d) == substr(S, j, d), and rank order == that
  // substring's lexicographic order (short suffixes first). Depth 1
  // is the character code itself (order-preserving; density is not
  // required — doubling keys only need order/equality), read
  // straight off the positions checkpoint with no copy. Each deeper
  // level pairs the half-depth rank with its d/2-shifted self via
  // the window+halo lookup (-1 when the shift runs off the corpus:
  // a shorter suffix sorts before every longer one sharing its
  // prefix, exactly as string comparison does), then packs or
  // densifies.
  // ----------------------------------------------------------------
  /** Depth-1 rank bounds: the corpus's ACTUAL min/max character
    * codes (one bounded agg over the memoized positions table). On
    * ASCII-ish corpora depth 8 packs DIRECTLY off the positions
    * table and the first densify lands at depth 16; a corpus with
    * genuinely wide codes degrades the schedule gracefully by
    * itself. */
  private def codeRange(s: SparkSession, d: String): (Long, Long) =
    SnapshotMemo.getOrCompute(s, s"sa-coderange:$d") {
      val r = positions(s, d).agg(min(col("code")).as("lo"),
        max(col("code")).as("m")).head
      (r.getLong(0), r.getLong(1))
    }

  private def maxCode(s: SparkSession, d: String): Long =
    codeRange(s, d)._2

  /** Depth-8 ranks can be packed DIRECTLY from the positions table —
    * one base-(maxCode+1) 8-digit number per position, digit 0 = the
    * past-corpus-end marker (sorts before every real code, exactly
    * the shorter-suffix-first string order) — iff the base fits 8
    * digits in a long and no real code is 0 (which would alias the
    * marker). One window pass replaces the depth-2 and depth-4
    * levels entirely (each was a full window+checkpoint pass over
    * the corpus). */
  private def direct8(s: SparkSession, d: String): Boolean = {
    val (lo, hi) = codeRange(s, d)
    lo >= 1L && hi + 1 <= 232L // 232^8 < Long.MaxValue
  }

  private def direct8Base(s: SparkSession, d: String): Long =
    maxCode(s, d) + 1

  private[llm] def levelBound(s: SparkSession, d: String,
      depth: Int): Long = {
    if (depth == 1) maxCode(s, d)
    else if (depth == 8 && direct8(s, d)) {
      val k = direct8Base(s, d)
      k * k * k * k * k * k * k * k - 1
    } else {
      val half = levelBound(s, d, depth / 2)
      if (packable(half)) half * (half + 3) + (half + 2)
      else positions(s, d).count() + 1
    }
  }

  private def packable(bound: Long): Boolean = bound <= 2000000000L

  private[llm] def rankLevel(s: SparkSession, d: String,
      depth: Int): DataFrame =
    SnapshotMemo.getOrCompute(s, s"sa-rank:$d:$depth") { build(s) {
      require(depth >= 1 && Integer.bitCount(depth) == 1,
        s"rank level depth must be a power of two, got $depth")
      if (depth == 1) {
        // a pure projection of the block-clustered positions
        // checkpoint — the r17 build paid a second full
        // exchange+sort+checkpoint here
        positions(s, d).select(col("gpos"), col("code").as("rank"),
          col("block"))
      } else if (depth == 8 && direct8(s, d)) {
        // base-k1 Horner pack of the 8 character codes (0 past the
        // corpus end): one window pass with 7 leads, skipping the
        // depth-2/-4 intermediate levels
        val (b, _) = geom(s, d)
        val k = direct8Base(s, d)
        val led = withShifted(
          positions(s, d).select(col("block"), col("gpos"),
            col("code").as("rank")),
          "rank", 1 to 7, b, i => s"_c$i")
        val packed = (1 to 7).foldLeft(col("rank")) { (acc, i) =>
          acc * k + coalesce(col(s"_c$i"), lit(0L))
        }
        Fixpoint.disk(led.select(col("gpos"), packed.as("rank"),
          col("block")))
      } else {
        val (b, p) = geom(s, d)
        val half = depth / 2
        val prev = rankLevel(s, d, half)
        val keys = withShifted(prev, "rank", Seq(half), b, _ => "_s")
          .select(col("block"), col("gpos"), col("rank"),
            coalesce(col("_s"), lit(-1L)).as("rank2"))
        val halfBound = levelBound(s, d, half)
        if (packable(halfBound)) {
          // pure map over the clustered frame: clustering and order
          // are preserved, checkpoint directly — no exchange.
          // Radix halfBound+3, NOT +2: the low slot holds rank2+2 ∈
          // {1} ∪ [2, halfBound+2] (rank2 = -1 past the corpus end),
          // so radix +2 would let the max-rank2 digit equal the radix
          // and alias into the high digit; +3 keeps every low digit
          // below the radix, so the packed value also decodes by
          // div/mod.
          val k = halfBound + 3
          Fixpoint.disk(keys.select(col("gpos"),
            (col("rank") * k + (col("rank2") + 2)).as("rank"),
            col("block")))
        } else {
          val ranked = denseRank(
            keys.select("rank", "rank2").distinct(),
            Seq("rank", "rank2"), "nrank")
          Fixpoint.disk(clusterByBlock(
            keys.join(ranked.hint("merge"), Seq("rank", "rank2"))
              .select(col("gpos"), col("nrank").as("rank"),
                col("block")), p))
        }
      }
    } }

  /** The four direct-packed depth-8 blocks per position, at offsets
    * 0/8/16/24 (0 = past corpus end): the bounded-depth-32 suffix
    * KEY as a 4-long tuple, built with ONE window pass over the
    * depth-8 ranks. Lexicographic (b0, b1, b2, b3) order IS the
    * depth-32 bounded-substring order (each block compares 8 chars
    * with shorter-sorts-first 0-padding; a tie means 8 real equal
    * chars, passing comparison to the next block), so on the
    * direct8 path this ONE artifact replaces the depth-16 densify
    * AND the depth-32 pack — each of which was its own full
    * window+checkpoint pass over the corpus. */
  private[llm] def blocks32(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"sa-blocks32:$d") { build(s) {
     graft.LoopConf.sizedCompute(s, corpusLen(s, d)) {
      val (b, _) = geom(s, d)
      Fixpoint.disk(withShifted(rankLevel(s, d, 8), "rank",
          Seq(8, 16, 24), b, dd => s"b${dd / 8}")
        .select(col("block"), col("gpos"), col("rank").as("b0"),
          coalesce(col("b1"), lit(0L)).as("b1"),
          coalesce(col("b2"), lit(0L)).as("b2"),
          coalesce(col("b3"), lit(0L)).as("b3")))
     }
    } }

  /** Full bounded-depth SA order: dense sa_rank over the depth-32
    * suffix key with a gpos tie-break (the key becomes unique, so
    * the dense rank IS the suffix-array permutation index). On the
    * direct8 path the key is the [[blocks32]] tuple; otherwise the
    * classic rank_Depth column. The positions⋈key join is a zipper
    * (both sides block-clustered: no exchange, no sort). */
  private[llm] def saRanked(s: SparkSession, d: String): DataFrame =
    SnapshotMemo.getOrCompute(s, s"sa-ranked:$d") { build(s) {
     graft.LoopConf.sizedCompute(s, corpusLen(s, d)) {
      // the stored artifact is checkpointed once; leaving it as a
      // view over denseRank's interior checkpoint was measured
      // WORSE (the lcp pair build reads saRanked twice and re-paid
      // the broadcast-join pass each time)
      val pos = positions(s, d)
        .select("block", "gpos", "doc_id", "lpos", "dlen")
      if (direct8(s, d)) {
        // b0..b3 stay in the artifact: the LCP of ADJACENT entries
        // reads them via one lead() window over this (SA-sorted)
        // frame — no pair self-join, no re-clustering (plcpPacked)
        val joined = pos
          .join(blocks32(s, d).hint("merge"), Seq("block", "gpos"))
        Fixpoint.disk(denseRank(joined,
          Seq("b0", "b1", "b2", "b3", "gpos"), "sa_rank"))
      } else {
        val joined = pos
          .join(rankLevel(s, d, Depth).hint("merge"),
            Seq("block", "gpos"))
        Fixpoint.disk(denseRank(joined, Seq("rank", "gpos"), "sa_rank"))
      }
     }
    } }

  // ----------------------------------------------------------------
  // llm_suffix_array: every SampleMod-th entry of the suffix-array
  // permutation. The oracle recomputes the same order by SORTING THE
  // ACTUAL 32-CHAR SUFFIX STRINGS of the materialized corpus — the
  // structurally independent formulation the engine exists to avoid.
  // ----------------------------------------------------------------
  def suffixArray(s: SparkSession, d: String): DataFrame =
    saRanked(s, d)
      .filter(col("sa_rank") % SampleMod === 0)
      .select(col("sa_rank"), col("doc_id"), col("lpos"))

  // ----------------------------------------------------------------
  // llm_exact_substr — Lee et al. ExactSubstr: maximal spans of
  // positions whose SpanL-char substring occurs elsewhere in the
  // corpus. A within-document gram can only collide with another
  // within-document gram (every tail/sentinel-crossing window
  // contains 0x01, which document text never does), so the global
  // rank_SpanL group count equals the within-document duplicate
  // count. Spans: runs of consecutive duplicated start positions,
  // merged by the islands trick per document (window bounded by
  // document length), span_len = run + SpanL - 1.
  // ----------------------------------------------------------------
  def exactSubstr(s: SparkSession, d: String): DataFrame = {
    // the duplicated-start MASK is the stored artifact (the same
    // role llm_dup_spans' positional k-gram mask plays); the island
    // merge re-derives per read from it (dup-start-sized, cheap).
    val dupStarts = SnapshotMemo.getOrCompute(s, s"sa-dup-starts:$d") {
     build(s) {
     graft.LoopConf.sizedCompute(s, corpusLen(s, d)) {
      val (_, p) = geom(s, d)
      // duplicated ⟺ the depth-SpanL key's group has ≥ 2 members:
      // ONE exchange (the count-over-key window) instead of the r17
      // groupBy + second full merge-join exchange of the rank table.
      // On the direct8 path the key is the blocks32 tuple (rank_16
      // and rank_32 are never built at all).
      val dups = (if (direct8(s, d))
          blocks32(s, d).withColumn("_c", count(lit(1)).over(
            Window.partitionBy("b0", "b1", "b2", "b3")))
        else
          rankLevel(s, d, SpanL).withColumn("_c",
            count(lit(1)).over(Window.partitionBy("rank"))))
        .filter(col("_c") > 1)
        .select("block", "gpos")
      Fixpoint.disk(positions(s, d)
        .filter(col("lpos") <= col("dlen") - (SpanL - 1))
        .select("block", "gpos", "doc_id", "lpos")
        .join(clusterByBlock(dups, p).hint("merge"),
          Seq("block", "gpos"), "left_semi"))
     }
     }
    }
    val w = Window.partitionBy("doc_id").orderBy("lpos")
    dupStarts
      .withColumn("grp", col("lpos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("lpos")).as("span_start"),
        (max(col("lpos")) - min(col("lpos")) + SpanL).as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  // ----------------------------------------------------------------
  // llm_sa_lcp: histogram of longest-common-prefix lengths between
  // ADJACENT suffix-array entries (capped at Depth).
  //
  // Fast path (direct8 digit scan): the blocks32 values ARE base-k1
  // encodings of their 8 character digits (digit = code, 0 for a
  // past-corpus-end offset). The LCP of two suffixes capped at 32
  // is then a PURE EXPRESSION over each side's four blocks: unpack
  // the digits into columns (linear code size — see unpackLevels)
  // and count leading equal real digits, whole-block equality
  // short-circuiting 8 at a time. Two distinct positions can never
  // both run off the corpus at the same relative offset
  // (ia+δ = ib+δ = n ⟹ ia = ib), so "both digits missing" never
  // counts as a match and the scan agrees with the rank-table lift
  // exactly — rank_k equality IS k-digit equality. Cost: two zipper
  // joins for the pair sides over the SHARED blocks32 artifact,
  // replacing the 6-level lift's 12 position-scale joins and 6
  // checkpoints (measured 9.1 s of the r17 family's 34 s).
  //
  // Fallback (wide-code corpora where the direct pack cannot hold 8
  // digits): the binary-lifting walk over the rank tables,
  // unchanged from r17.
  // ----------------------------------------------------------------
  def lcpHistogram(s: SparkSession, d: String): DataFrame = {
    val plcp = SnapshotMemo.getOrCompute(s, s"sa-plcp:$d") {
     build(s) {
     graft.LoopConf.sizedCompute(s, corpusLen(s, d)) {
      if (direct8(s, d)) plcpPacked(s, d) else plcpLift(s, d)
     }
     }
    }
    plcp.groupBy("lcp").agg(count(lit(1)).as("n_pairs"))
  }

  /** Unpack a direct8-packed value into its 8 character digits as
    * COLUMNS (digit = char code, 0 = past corpus end). Linear
    * expression size — the first cut generated one textually
    * recursive CASE whose duplicated operands grew the codegen
    * source past janino's 64 KB method cap, silently dropping the
    * 1.5M-row projection to interpreted mode (measured 69 s of task
    * time for what is ~2 s compiled; the plan carried the >64 KB
    * expression FOUR times). Each unpack step here is one div/mod
    * off a materialized parent column, so every subexpression is
    * computed once and the generated code stays small. */
  private def unpackLevels(s: SparkSession, d: String,
      pfx: String): Seq[Seq[(String, Column)]] = {
    val k = direct8Base(s, d)
    // quotient/remainder chain off the direct base-k1 pack: digit 0
    // is the leading character code, 0 marks past-corpus-end
    ((7 to 1 by -1).map { i =>
      val parent = if (i == 7) s"${pfx}v" else s"${pfx}q$i"
      Seq(
        s"${pfx}q${i - 1}" -> expr(s"$parent div ${k}L"),
        s"${pfx}d$i" -> expr(s"$parent % ${k}L"))
    } :+ Seq(s"${pfx}d0" -> col(s"${pfx}q0"))).toSeq
  }

  /** Leading-equal-digit count of two unpacked depth-8 blocks: the
    * scan stops at the first unequal digit or missing marker (a
    * digit pair with BOTH sides missing cannot occur between
    * distinct positions, and all pair sides here are distinct —
    * adjacent suffix-array entries). Whole-block equality
    * short-circuits to 8 (the rank invariant: equal packed values ⟺
    * equal full-length substrings). Linear in the digit count. */
  private def blockLcp8(a: String, b: String): Column = {
    // a real character digit is ≥ 1 (codes are ≥ 1 by the direct8
    // precondition; 0 = past corpus end, −1 = null-block marker)
    def eq(i: Int): Column =
      col(s"${a}d$i") >= 1 && col(s"${a}d$i") === col(s"${b}d$i")
    val scan = (7 to 0 by -1).foldLeft(lit(8): Column) { (tail, i) =>
      when(eq(i), tail).otherwise(lit(i))
    }
    // whole-value equality ⟹ 8 real equal digits (rank invariant +
    // distinct positions); guarded ≥ 1 so both-sides-past-corpus-end
    // (normalized to −1) falls through to the scan's 0
    when(col(s"${a}v") >= 1 && col(s"${a}v") === col(s"${b}v"), lit(8))
      .otherwise(scan)
  }

  private def addCols(df: DataFrame,
      cols: Seq[(String, Column)]): DataFrame =
    df.select(col("*") +: cols.map { case (n, c) => c.as(n) }: _*)

  private def plcpPacked(s: SparkSession, d: String): DataFrame = {
    val (b, p) = geom(s, d)
    // the saRanked artifact IS the suffix array in SA order with its
    // depth-32 key blocks aboard — the ADJACENT entry's blocks are a
    // lead(1) away. One exchange (cluster by sa_rank div B) + one
    // window pass + a broadcast block-boundary halo replaces the r18
    // first cut's sa_rank self-join plus TWO position-keyed
    // re-clustering joins (three corpus-scale exchanges and their
    // sorts).
    val sa = saRanked(s, d).select(Seq(col("sa_rank")) ++
      (0 to 3).map(i => col(s"b$i").as(s"a$i")): _*)
    val keyed = sa.withColumn("blk", expr(s"sa_rank div ${b}L"))
      .repartition(p, col("blk"))
      .sortWithinPartitions("blk", "sa_rank")
    val w = Window.partitionBy("blk").orderBy("sa_rank")
    val led = (0 to 3).foldLeft(keyed)((acc, i) =>
      acc.withColumn(s"_w$i", lead(col(s"a$i"), 1).over(w)))
    // the first entry of each block, keyed to its predecessor (the
    // previous block's last row) — bounded by the block count
    val heads = sa.filter(pmod(col("sa_rank"), lit(b)) === 0)
      .select((col("sa_rank") - 1).as("sa_rank") +:
        (0 to 3).map(i => col(s"a$i").as(s"_h$i")): _*)
    // c0 is null ONLY on the corpus's last SA entry (a real
    // position's leading block is ≥ 1): that row has no adjacent
    // pair and drops
    val both = led.join(broadcast(heads), Seq("sa_rank"), "left")
      .select(Seq(col("sa_rank")) ++ (0 to 3).map(i => col(s"a$i")) ++
        (0 to 3).map(i =>
          coalesce(col(s"_w$i"), col(s"_h$i")).as(s"c$i")): _*)
      .filter(col("c0").isNotNull)
    val sides = for (i <- 0 to 3; sd <- Seq("a", "c")) yield s"$sd$i"
    // level-grouped projections: whole values (blocks32 already
    // encodes past-corpus-end as 0), then the unpack levels, then
    // per-block LCPs — every subexpression is a materialized column
    // evaluated once
    val vals = addCols(both, sides.map(nm => s"${nm}v" -> col(nm)))
    val nLevels = unpackLevels(s, d, sides.head).length
    val digits = (0 until nLevels).foldLeft(vals) { (df, level) =>
      addCols(df, sides.flatMap(nm => unpackLevels(s, d, nm)(level)))
    }
    val withL = addCols(digits,
      (0 to 3).map(i => s"l$i" -> blockLcp8(s"a$i", s"c$i")))
    val total = col("l0") + when(col("l0") === 8,
      col("l1") + when(col("l1") === 8,
        col("l2") + when(col("l2") === 8, col("l3"))
          .otherwise(lit(0))).otherwise(lit(0))).otherwise(lit(0))
    Fixpoint.ser(withL.select(
      least(total.cast(LongType), lit(Depth.toLong)).as("lcp")))
  }

  /** Binary-lifting fallback: descending powers k = Depth..1, add k
    * and advance both positions whenever the rank_k values match.
    * Never compares a string; 2 position-keyed joins per level.
    * Checkpoint EVERY level (disk, superseded freed): unrolled, the
    * 6-level lift is one plan with ~12 pipelined sorts whose
    * concurrent spill pressure OOM'd a borderline sf1/3 GB run. */
  private def plcpLift(s: SparkSession, d: String): DataFrame = {
    val sa = saRanked(s, d).select("sa_rank", "gpos")
    var cur = Fixpoint.disk(sa
      .join(sa.select((col("sa_rank") - 1).as("sa_rank"),
        col("gpos").as("gb")).hint("merge"), Seq("sa_rank"))
      .select(col("gpos").as("ia"), col("gb").as("ib"),
        lit(0L).as("lcp")))
    var k = Depth
    while (k >= 1) {
      val lev = rankLevel(s, d, k)
      val eq = col("ra").isNotNull && col("rb").isNotNull &&
        col("ra") === col("rb")
      val next = Fixpoint.disk(cur
        .join(lev.select(col("gpos").as("ia"), col("rank").as("ra"))
          .hint("merge"), Seq("ia"), "left")
        .join(lev.select(col("gpos").as("ib"), col("rank").as("rb"))
          .hint("merge"), Seq("ib"), "left")
        .select(
          when(eq, col("ia") + k).otherwise(col("ia")).as("ia"),
          when(eq, col("ib") + k).otherwise(col("ib")).as("ib"),
          when(eq, col("lcp") + k).otherwise(col("lcp")).as("lcp")))
      Fixpoint.free(cur)
      cur = next
      k /= 2
    }
    val out = Fixpoint.ser(
      cur.select(least(col("lcp"), lit(Depth.toLong)).as("lcp")))
    Fixpoint.free(cur)
    out
  }
}
